package graft.avro

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** Pluggable versioned schema repository (reference `mypipe-avro/src/
  * main/scala/mypipe/avro/schema/GenericSchemaRepository.scala:10-35`):
  * the four-operation surface every backing store implements — the
  * reference ships in-memory and REST-client variants behind the same
  * trait; here the in-memory [[SchemaRegistry]] and the stale-cache
  * [[CachingSchemaRepoClient]] do. */
trait SchemaRepo {
  /** registerSchema — idempotent per (subject, schema), global id. */
  def register(subject: String, schemaJson: String): Int
  /** getSchema(subject, id) — the versioned fetch. */
  def schemaById(id: Int): Option[String]
  /** getLatestSchema(subject). */
  def latest(subject: String): Option[(Int, String)]
  /** getSchemaId(subject, schema). */
  def idOf(subject: String, schemaJson: String): Option[Int]
}

/** In-memory versioned Avro schema registry mirroring the reference's
  * AVRO-1124-style repository semantics (reference `mypipe-avro/src/
  * main/scala/mypipe/avro/schema/GenericSchemaRepository.scala:10-35`):
  * `registerSchema` is idempotent per (subject, schema) and allocates a
  * global short id; lookups run against bidirectional id↔schema caches
  * (`GenericSchemaRepository.scala:62-64`).
  *
  * Subjects follow the reference's naming: `generic_<op>` or
  * `<db>_<table>_<op>` (AvroSchemaUtils.scala:60-76).
  *
  * Deployment note (100 TB): one registry instance lives on the driver
  * and is closed over into expression trees / broadcast; executors only
  * read. Registration (an ALTER, T7) happens driver-side between
  * micro-batches.
  */
class SchemaRegistry extends SchemaRepo with Serializable {
  private val nextId = new AtomicInteger(0)
  // subject → versions (schema json, global id), append-ordered
  private val subjects = TrieMap[String, Vector[(String, Int)]]()
  private val byIdCache = TrieMap[Int, String]()

  /** Register a schema under a subject; returns its global id.
    * Re-registering an identical schema returns the existing id. */
  override def register(subject: String, schemaJson: String): Int =
    synchronized {
    val versions = subjects.getOrElse(subject, Vector.empty)
    versions.find(_._1 == schemaJson) match {
      case Some((_, id)) => id
      case None =>
        val id = nextId.incrementAndGet()
        subjects.update(subject, versions :+ (schemaJson, id))
        byIdCache.update(id, schemaJson)
        id
    }
  }

  /** getSchema(subject, id) — the versioned fetch. */
  override def schemaById(id: Int): Option[String] = byIdCache.get(id)

  /** getLatestSchema(subject). */
  override def latest(subject: String): Option[(Int, String)] =
    subjects.get(subject).flatMap(_.lastOption).map(_.swap)

  /** getSchemaId(subject, schema). */
  override def idOf(subject: String, schemaJson: String): Option[Int] =
    subjects.get(subject).flatMap(_.find(_._1 == schemaJson)).map(_._2)

  def versionCount(subject: String): Int =
    subjects.get(subject).map(_.size).getOrElse(0)

  /** All (id, schema) versions of a subject in registration order —
    * the writer-schema table a mixed-version stream decoder dispatches
    * on ([[graft.functions.Envelope.open]]). */
  def versionsOf(subject: String): Seq[(Int, String)] =
    subjects.get(subject).map(_.map(_.swap)).getOrElse(Vector.empty)
}

/** Caching client over a remote [[SchemaRepo]] — the shape of the
  * reference's REST-backed repository client: every lookup is answered
  * from a local snapshot; when a schema id minted AFTER the snapshot
  * arrives on the wire, the miss is healed by `flush()` + re-pull
  * (the consumer retry dance, reference `KafkaAvroDecoder.scala:61-64`
  * and `GenericSchemaRepository.scala:62-64`).
  *
  * Use [[CachingSchemaRepoClient.resolveWithRetry]] as the decode-path
  * resolver: cache hit → no remote traffic; miss → one flush + one
  * retry; still missing → None (genuinely unknown id).
  */
class CachingSchemaRepoClient(remote: SchemaRepo) extends SchemaRepo {
  @volatile private var byId: Map[Int, String] = Map.empty
  @volatile private var latestBySubject: Map[String, (Int, String)] =
    Map.empty
  @volatile private var flushCount: Long = 0L

  /** Number of cache flushes performed (observability: the retry path
    * should be rare). */
  def flushes: Long = flushCount

  /** Drop the local snapshot; subsequent lookups re-pull from remote. */
  def flush(): Unit = synchronized {
    byId = Map.empty
    latestBySubject = Map.empty
    flushCount += 1
  }

  override def register(subject: String, schemaJson: String): Int = {
    val id = remote.register(subject, schemaJson)
    synchronized { byId += id -> schemaJson }
    id
  }

  override def schemaById(id: Int): Option[String] =
    byId.get(id).orElse {
      remote.schemaById(id).map { s =>
        synchronized { byId += id -> s }; s
      }
    }

  override def latest(subject: String): Option[(Int, String)] =
    latestBySubject.get(subject).orElse {
      remote.latest(subject).map { v =>
        synchronized { latestBySubject += subject -> v }; v
      }
    }

  override def idOf(subject: String, schemaJson: String): Option[Int] =
    remote.idOf(subject, schemaJson)

  /** Snapshot-pinning lookup used by long-lived decoders: consult ONLY
    * the local snapshot (fast path, no remote traffic per record). */
  def cachedSchemaById(id: Int): Option[String] = byId.get(id)
}

object CachingSchemaRepoClient {
  /** Flush-on-miss schema resolution (reference
    * KafkaAvroDecoder.scala:61-64): try the cache; on miss flush and
    * hit the remote once; a second miss means the id is unknown. */
  def resolveWithRetry(client: CachingSchemaRepoClient, id: Int)
      : Option[String] =
    client.cachedSchemaById(id).orElse {
      client.flush()
      client.schemaById(id)
    }
}

object AvroSubjects {
  /** Subject naming (reference AvroSchemaUtils.scala:60-76). */
  def generic(op: String): String = s"generic_$op"
  def specific(db: String, table: String, op: String): String =
    s"${db}_${table}_$op"
}
