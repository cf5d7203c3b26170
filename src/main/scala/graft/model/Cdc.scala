package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.when

/** The engine's CDC data model (SURVEY.md §1, §7.1).
  *
  * The reference models a change stream as a sealed `Mutation` hierarchy
  * (insert/update/delete, each with table metadata, row images, optional
  * txid — reference `mypipe-api/src/main/scala/mypipe/api/event/
  * package.scala:47-139`). Spark-first, that's one flat, columnar
  * envelope: a `Dataset[MutationRow]` / DataFrame with an `op`
  * discriminator and nullable before/after images, à la a change data
  * feed. All engine operators are DataFrame→DataFrame over this shape so
  * batch and streaming share code.
  */
object Cdc {
  /** Mutation type names (reference event/package.scala:166-192). */
  val OpInsert = "insert"
  val OpUpdate = "update"
  val OpDelete = "delete"

  /** Wire magic bytes (reference event/package.scala:143-164:
    * InsertByte 0x1, UpdateByte 0x2, DeleteByte 0x3). */
  val InsertByte: Byte = 0x1
  val UpdateByte: Byte = 0x2
  val DeleteByte: Byte = 0x3

  /** The one op → wire-byte table. */
  private val opBytes: Seq[(String, Byte)] =
    Seq(OpInsert -> InsertByte, OpUpdate -> UpdateByte, OpDelete -> DeleteByte)

  def opToByte(op: String): Byte = opBytes.find(_._1 == op).get._2

  def byteToOp(b: Byte): String = opBytes.find(_._2 == b).get._1

  /** The envelope mtype of an `op` column: the op's wire byte, 0 for any
    * other op (NULL included). */
  def mtypeOf(op: Column): Column = {
    val (o0, b0) = opBytes.head
    opBytes.tail.foldLeft(when(op === o0, b0.toInt)) {
      case (c, (o, b)) => c.when(op === o, b.toInt)
    }.otherwise(0)
  }
}

/** Typed view of a change record for Dataset[MutationRow] API edges and
  * the stateful streaming operators (SURVEY §7.1). */
case class MutationRow(
    op: String,
    database: String,
    tbl: String,
    txid: Option[String],
    tsUs: Long,
    pk: String,
    strings: Map[String, String],
    longs: Map[String, Long])
