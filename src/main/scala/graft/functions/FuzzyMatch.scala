package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Edit-distance and Jaro-Winkler string similarity as native Catalyst
  * expressions — the entity-resolution scalar kernel the built-in
  * `levenshtein` leaves incomplete. Spark ships plain Levenshtein only;
  * real record-linkage stacks (and the reference's downstream
  * dedup consumers) want transposition-aware distance (typos are
  * overwhelmingly adjacent-character swaps, which Levenshtein bills as
  * 2 edits) and a normalized similarity with prefix boost for ranked
  * matching. Both kernels live in [[FuzzyRuntime]], a static class the
  * generated Java calls directly, so the expressions stay inside
  * whole-stage codegen (the [[ShingleRuntime]]/[[NormalizeRuntime]]
  * pattern) — no UDF boxing on a blocked join's inner loop.
  *
  * Scale shape: these are SCALAR kernels. The join queries that use
  * them ([[fj2DamerauJoin]], [[fj3JaroWinklerJoin]]) block on an
  * equi-key first (hash join), so the O(|a|·|b|) DP runs only inside a
  * block — the standard blocking discipline that keeps fuzzy matching
  * off the n×m cliff at corpus scale.
  */
object FuzzyRuntime {
  private def min4(a: Int, b: Int, c: Int, d: Int): Int =
    math.min(math.min(a, b), math.min(c, d))

  /** Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner): edit
    * distance where transposition of two adjacent characters counts as
    * one operation, and edits may touch a transposed pair again (so
    * "CA"→"ABC" = 2, unlike the restricted/OSA variant's 3 — this is
    * the variant DuckDB's `damerau_levenshtein` implements, which the
    * oracle leans on). Characters compare by UTF-16 code unit, matching
    * both engines on the BMP.
    */
  /** Guard for the O(|a|·|b|) DP matrix below: a pair of 100k-char
    * documents would mean a multi-GB single allocation inside a join
    * inner loop. Unbounded text does not belong in a quadratic edit
    * distance — fail fast with the remedy instead of OOMing an
    * executor. 8192² ints ≈ 256 MB worst case, still bounded. Tunable
    * per session via `graft.fuzzy.maxEditDistanceLen` (a previously-
    * completing long-text workload can buy itself back in rather than
    * hitting a hard-coded wall). */
  val MaxEditDistanceLen = 8192

  /** Conf-resolved bound. Only consulted when an input is longer than
    * the always-safe fast-path threshold below, so short-string hot
    * loops never pay the SQLConf lookup. */
  def configuredMaxLen: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("graft.fuzzy.maxEditDistanceLen",
        MaxEditDistanceLen.toString).toInt

  /** Inputs at or under this length skip the conf read entirely — a
    * 64×64 DP is ~4k cells, always safe. */
  private val AlwaysSafeLen = 64

  def damerau(sa: UTF8String, sb: UTF8String): Int = {
    val a = sa.toString
    val b = sb.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    if (la > AlwaysSafeLen || lb > AlwaysSafeLen) {
      val bound = configuredMaxLen
      require(la <= bound && lb <= bound,
        s"damerau_levenshtein input exceeds $bound chars " +
          s"($la, $lb): the O(n*m) DP matrix would allocate " +
          s"gigabytes per row-pair — truncate or pre-filter long text " +
          s"(use shingle/MinHash similarity for documents), or raise " +
          s"graft.fuzzy.maxEditDistanceLen")
    }
    val inf = la + lb
    // DP matrix with the Lowrance-Wagner sentinel border (row/col 0 =
    // INF, row/col 1 = plain prefix distances).
    val w = lb + 2
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    // Last row index (1-based) where each character occurred in `a`.
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      val ai = a.charAt(i - 1)
      j = 1
      while (j <= lb) {
        val bj = b.charAt(j - 1)
        val i1: Int = { val v = da.get(bj); if (v == null) 0 else v }
        val j1 = db
        var cost = 1
        if (ai == bj) { cost = 0; db = j }
        d((i + 1) * w + j + 1) = min4(
          d(i * w + j) + cost, // substitute (or match)
          d((i + 1) * w + j) + 1, // insert
          d(i * w + j + 1) + 1, // delete
          d(i1 * w + j1) + (i - i1 - 1) + 1 + (j - j1 - 1)) // transpose
        j += 1
      }
      da.put(ai, i)
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  /** Jaro-Winkler similarity, textbook form (match window
    * ⌊max/2⌋−1, transpositions = out-of-order matches / 2, Winkler
    * prefix boost scale 0.1 over ≤4 shared leading characters, applied
    * only when Jaro > 0.7). Either side empty → 0.0, matching DuckDB's
    * `jaro_winkler_similarity` (including the both-empty case).
    */
  def jaroWinkler(sa: UTF8String, sb: UTF8String): Double = {
    val a = sa.toString
    val b = sb.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var halfT = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) halfT += 1
        k += 1
      }
      i += 1
    }
    val t = halfT / 2
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** `damerau_levenshtein(a, b)` — unrestricted Damerau-Levenshtein
  * distance as a codegen'd Catalyst expression.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzyRuntime.damerau(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FuzzyRuntime.damerau($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `jaro_winkler(a, b)` — Jaro-Winkler similarity as a codegen'd
  * Catalyst expression.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzyRuntime.jaroWinkler(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FuzzyRuntime.jaroWinkler($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object FuzzyFunctions {
  def damerau_levenshtein(a: Column, b: Column): Column =
    ColumnBridge.column(DamerauLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def jaro_winkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** Fuzzy-join queries over the new kernels. Both plant a deterministic
  * typo into a sampled probe set and match it back against the full
  * part table under first-token blocking — the fj1 shape, upgraded to
  * the transposition-aware and ranked-similarity kernels.
  */
object FuzzyMatch extends QueryModule {
  import FuzzyFunctions._

  // Candidate-generation levers, measured at sf1 on part names —
  // recorded so later sessions don't re-run the experiments:
  //   (a) first-token blocking alone: part names draw their first
  //       token from 8 values, so blocks hit 25k rows and 10M in-block
  //       DP evaluations — fj1 4.6 s / fj2 6.2 s at sf1, slopes 11-16×
  //       per decade. Quadratic once the block vocabulary saturates.
  //   (b) pigeonhole / PartEnum chunking (lev ≤ k ⇒ one of k+1 target
  //       chunks survives verbatim in the probe, shifted ≤ k): LOSSLESS
  //       and oracle-verified, but WORSE here — fj1 10.9 s at sf1 —
  //       because ~11-char chunks drawn from a 92-word name vocabulary
  //       are shared by thousands of names, so the chunk join fans out
  //       past what it saves. The device needs high-entropy strings
  //       (or df-ranked rare-gram prefixes, i.e. full ED-Join) to pay.
  //   (c) (first token × length band) blocking — KEPT: lev(a,b) ≤ k
  //       forces |len(a) − len(b)| ≤ k, so each probe explodes to the
  //       2k+1 admissible lengths and length joins as an exact hash
  //       key. Lossless, one cheap explode, cuts the DP enumeration
  //       ~5-8×: fj1 3.8 s (slope ~4.7×), fj2 4.0 s (slope ~7.4×).
  // Current invariant: lever choice is DERIVED, not hard-wired — the
  // fuzzy joins route through [[FuzzyBlocking.choose]], whose sampled
  // Σblock² selectivity probe picks (b) on high-entropy corpora (where
  // FuzzyMatchSpec measures strictly fewer candidates) and (c) on
  // part names (the measured-best plan above). Both levers are
  // lossless, so a wrong pick costs time, never results.

  /** Transposition-typo resolution: probes swap the LAST TWO characters
    * of the part name (the classic fat-finger swap). Unrestricted
    * Damerau-Levenshtein bills the swap 1 edit, so `dist ≤ 1` recovers
    * the original part — plain Levenshtein would need ≤ 2 and drag in
    * spurious in-block matches. Blocking routes through
    * [[FuzzyBlocking.damerauJoin]] with the first name token as the
    * caller block column (the typo never touches it): the selectivity
    * probe derives (first token × ±1 length band) — the measured-best
    * round-11 plan — on part names, with the pigeonhole-chunk lever
    * armed for high-entropy corpora; the DP runs only inside hash-join
    * blocks, never all-pairs.
    */
  def fj2DamerauJoin(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val ln = length(col("p_name"))
    val probes = parts.filter(col("p_partkey") % 400 === 0)
      .select(col("p_partkey").as("probe_id"),
        concat(
          substring(col("p_name"), lit(1), ln - 2),
          substring(col("p_name"), ln, lit(1)),
          substring(col("p_name"), ln - 1, lit(1))).as("q"),
        split_part(col("p_name"), lit(" "), lit(1)).as("blk"))
    val targets = parts
      .select(col("p_partkey").as("match_key"),
        col("p_name").as("name"),
        split_part(col("p_name"), lit(" "), lit(1)).as("blk"))
    FuzzyBlocking.damerauJoin(probes, targets, k = 1)
      .orderBy("probe_id", "match_key")
  }

  val fj2Sql: String =
    """WITH probes AS (
      |  SELECT p_partkey AS probe_id,
      |    concat(substr(p_name, 1, length(p_name) - 2),
      |           substr(p_name, length(p_name), 1),
      |           substr(p_name, length(p_name) - 1, 1)) AS q,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part WHERE p_partkey % 400 = 0),
      |targets AS (
      |  SELECT p_partkey AS match_key, p_name,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part)
      |SELECT probe_id, match_key,
      |  CAST(damerau_levenshtein(q, p_name) AS INT) AS dist
      |FROM probes JOIN targets USING (blk)
      |WHERE damerau_levenshtein(q, p_name) <= 1
      |ORDER BY probe_id, match_key""".stripMargin

  /** Ranked fuzzy matching: probes drop the last character, targets are
    * scored by Jaro-Winkler under the same blocking, and matches keep
    * score ≥ 0.9. The score is emitted in integer ten-thousandths,
    * ROUND-to-nearest (⌊jw·10⁴+½⌋), so the driver hash compares
    * integers, not doubles — both engines implement the textbook
    * algorithm but nothing pins their floating-point operation ORDER,
    * so the last ulp is not contract. Round (not floor) because many
    * real jw values are exact multiples of 10⁻⁴ (e.g. 19/20), which sit
    * ON a floor boundary but in the MIDDLE of a round bin; a measured
    * audit puts every blocked pair ≥ 1.8e-6 away from a round boundary
    * and ≥ 1.7e-3 away from the 0.9 gate at sf0.1.
    *
    * The join routes through [[FuzzyBlocking.jwJoin]]: JW is not
    * edit-bounded, so the only lossless refinement over the
    * first-token block is the MULTIPLICATIVE length band
    * ([[FuzzyBlocking.jwLenRatio]] — jw ≥ 0.9 forces min/max ≥ 1/2);
    * on part names the window covers nearly every block, so the probe
    * derives plain block-only joining (today's measured plan), with
    * the band armed for wide-length-spread corpora. The kernel runs
    * once per DISTINCT (q, name) pair and expands to ids after.
    */
  def fj3JaroWinklerJoin(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val probes = parts.filter(col("p_partkey") % 400 === 0)
      .select(col("p_partkey").as("probe_id"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("q"),
        split_part(col("p_name"), lit(" "), lit(1)).as("blk"))
    val targets = parts
      .select(col("p_partkey").as("match_key"),
        col("p_name").as("name"),
        split_part(col("p_name"), lit(" "), lit(1)).as("blk"))
    FuzzyBlocking.jwJoin(probes, targets, tau = 0.9)
      .select(col("probe_id"), col("match_key"),
        floor(col("jw") * 10000 + 0.5).cast("long").as("jw_e4"))
      .orderBy("probe_id", "match_key")
  }

  val fj3Sql: String =
    """WITH probes AS (
      |  SELECT p_partkey AS probe_id,
      |    substr(p_name, 1, length(p_name) - 1) AS q,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part WHERE p_partkey % 400 = 0),
      |targets AS (
      |  SELECT p_partkey AS match_key, p_name,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part)
      |SELECT probe_id, match_key,
      |  CAST(FLOOR(jaro_winkler_similarity(q, p_name) * 10000 + 0.5)
      |    AS BIGINT) AS jw_e4
      |FROM probes JOIN targets USING (blk)
      |WHERE jaro_winkler_similarity(q, p_name) >= 0.9
      |ORDER BY probe_id, match_key""".stripMargin

  /** Auto-blocked fuzzy join WITHOUT a caller block column — the
    * entity-resolution shape where no safe blocking key exists: match
    * corrupted content FINGERPRINTS (md5 hex of the part name, last
    * char lost — the id/hash/fingerprint matching real pipelines run,
    * where identifiers are high-entropy and share no token structure).
    * [[FuzzyBlocking.fuzzyJoin]] probes the corpus and picks the
    * lever itself: on 32-char hex a single length band holds the
    * whole corpus while a ~10-char chunk key is near-unique, so the
    * probe engages the pigeonhole-chunk path — the regime banding
    * cannot serve (measured: this query on band-style length blocking
    * went super-linear at sf1, 23 s / slope 25×; chunked it stays
    * ~linear). Both levers are lossless, so results are
    * lever-independent; the oracle mirrors the pigeonhole device in
    * SQL (targets unnest their k+1 chunks, probes unnest the shifted
    * substring window, exact-key join, exact lev verify + DISTINCT)
    * because a band-style oracle would be the quadratic thing DuckDB
    * then pays. */
  def fj4AutoBlocked(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val probes = parts.filter(col("p_partkey") % 400 === 0)
      .select(col("p_partkey").as("probe_id"),
        expr("substring(md5(p_name), 1, 31)").as("q"))
    val targets = parts
      .select(col("p_partkey").as("match_key"),
        md5(col("p_name")).as("name"))
    FuzzyBlocking.fuzzyJoin(probes, targets, k = 2)
      .orderBy("probe_id", "match_key")
  }

  /** Pigeonhole-chunk candidate oracle: k = 2 ⇒ 3 chunks, start
    * boundaries ⌊i·L/3⌋; a probe substring window of ±2 around each
    * boundary at each admissible target length. */
  val fj4Sql: String =
    """WITH probes AS (
      |  SELECT p_partkey AS probe_id,
      |    substr(md5(p_name), 1, 31) AS q
      |  FROM part WHERE p_partkey % 400 = 0),
      |targets AS (
      |  SELECT p_partkey AS match_key, md5(p_name) AS name,
      |    length(md5(p_name)) AS t_len
      |  FROM part),
      |tchunks AS (
      |  SELECT match_key, name, t_len, ci,
      |    (ci * t_len) // 3 AS cs,
      |    ((ci + 1) * t_len) // 3 - (ci * t_len) // 3 AS clen
      |  FROM targets, (SELECT unnest(range(0, 3)) AS ci)),
      |tkeys AS (
      |  SELECT match_key, name, t_len, ci,
      |    substr(name, cs + 1, clen) AS ckey
      |  FROM tchunks),
      |pl AS (
      |  SELECT probe_id, q, length(q) + d AS t_len
      |  FROM probes, (SELECT unnest(range(-2, 3)) AS d)),
      |pchunks AS (
      |  SELECT probe_id, q, t_len, ci,
      |    (ci * t_len) // 3 AS cs,
      |    ((ci + 1) * t_len) // 3 - (ci * t_len) // 3 AS clen
      |  FROM pl, (SELECT unnest(range(0, 3)) AS ci)),
      |pkeys AS (
      |  SELECT probe_id, q, t_len, ci,
      |    substr(q, CAST(p0 AS INT), clen) AS ckey
      |  FROM pchunks, LATERAL (SELECT unnest(range(
      |    greatest(cs + 1 - 2, 1),
      |    least(cs + 1 + 2, length(q) - clen + 1) + 1)) AS p0)),
      |cands AS (
      |  SELECT DISTINCT probe_id, q, match_key, name
      |  FROM pkeys JOIN tkeys USING (t_len, ci, ckey))
      |SELECT probe_id, match_key,
      |  CAST(levenshtein(q, name) AS INT) AS dist
      |FROM cands
      |WHERE levenshtein(q, name) <= 2
      |ORDER BY probe_id, match_key""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("fj2_damerau_join", fj2DamerauJoin, fj2Sql),
    QuerySpec("fj3_jw_join", fj3JaroWinklerJoin, fj3Sql),
    QuerySpec("fj4_auto_blocked", fj4AutoBlocked, fj4Sql))
}
