package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector — the deployment-grade registration
  * path for the engine's native expressions: point
  * `spark.sql.extensions` at this class (or use
  * `builder.withExtensions(new GraftExtensions)`) and every session
  * built from that config exposes the functions in SQL, with no
  * session-local install call. [[GraftCatalog.install]] remains the
  * imperative per-session variant for notebooks/tests.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.operators.HoistInvariantNorms)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, "", "", "", "", "", "", "built-in"),
        build))
    }
  }
}

object GraftExtensions {

  /** The engine's native SQL functions as (name, usage, builder) — the
    * one table both registration paths iterate: `injectFunction` above
    * and [[GraftCatalog.install]]'s `createOrReplaceTempFunction`. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash",
      "rolling_hash(str) - polynomial rolling hash of the UTF-8 bytes",
      e => RollingHash(e.head, HashFunctions.DefaultBase)),
    ("simhash64",
      "simhash64(array<bigint>) - 64-bit SimHash of token hashes",
      e => SimHash64(e.head)),
    ("bigram_shingle_hashes",
      "bigram_shingle_hashes(str) - distinct word-bigram shingle hashes",
      e => BigramShingleHashes(e.head, HashFunctions.DefaultBase)),
    ("dot_product",
      "dot_product(a, b) - double-accumulated vector dot product",
      e => DotProduct(e(0), e(1))),
    ("sq_l2", "sq_l2(a, b) - squared L2 distance between vectors",
      e => SqL2Distance(e(0), e(1))),
    ("ngram_hashes",
      "ngram_hashes(str, n) - 64-bit hashes of all word n-grams " +
        "(single byte-scan, no token strings materialized)",
      e => NgramHashes(e.head,
        HashFunctions.constInt(e(1), "ngram_hashes", "n"),
        HashFunctions.DefaultBase)),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a ∩ b| of two sorted arrays",
      e => SortedIntersectCount(e(0), e(1))),
    ("accent_fold",
      "accent_fold(str) - diacritic removal (NFD, strip combining " +
        "marks, NFC)",
      e => AccentFold(e.head)),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC composition",
      e => NfcNormalize(e.head)),
    ("damerau_levenshtein",
      "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein " +
        "edit distance (adjacent transposition = 1 edit)",
      e => DamerauLevenshtein(e(0), e(1))),
    ("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (prefix boost " +
        "0.1, threshold 0.7)",
      e => JaroWinkler(e(0), e(1))),
    ("minhash_signature",
      "minhash_signature(hashes) - 32-slot MinHash signature over " +
        "the engine's default plane family",
      e => MinHashSignature(e.head, Dedup.MinHashAs, Dedup.MinHashBs,
        Dedup.MinHashPrime)))
}
