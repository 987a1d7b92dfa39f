package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The native gram-fingerprint kernel must be BIT-IDENTICAL to the
  * Column tree it replaced (q111's DuckDB oracle replays raw-gram
  * semantics; the engine-side lanes are the q82 xxhash64 convention):
  * same positions, same `xxhash64(gram)` lane, same
  * `xxhash64(lit(1), gram)` lane — including the multi-arg left fold
  * (int literal hashed first, its result seeding the gram bytes). */
class GramFingerprintsParitySpec extends SparkTestBase {
  import spark.implicits._

  /** The ORIGINAL formulation, kept here as the parity reference. */
  private def treeForm(k: Int) = {
    val gramsOf = when(size(col("_toks")) >= k,
        transform(sequence(lit(0), size(col("_toks")) - k),
          i => concat_ws(" ", slice(col("_toks"), i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("id"), posexplode(gramsOf).as(Seq("_i", "_gram")))
        .select(col("id"), col("_i"),
          xxhash64(col("_gram")).as("_f1"),
          xxhash64(lit(1), col("_gram")).as("_f2"))
  }

  private def nativeForm(k: Int)(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), posexplode(
        TextSignatures.gramFingerprints(col("_toks"), k)).as(Seq("_i", "_fp")))
      .select(col("id"), col("_i"),
        col("_fp._f1").as("_f1"), col("_fp._f2").as("_f2"))

  test("native gram_fingerprints == the concat_ws/slice/xxhash64 tree, " +
    "corpus-wide and on edge shapes") {
    val edge = Seq(
      (9000001L, ""),                     // zero tokens -> no grams
      (9000002L, "   \t  "),              // whitespace only -> no grams
      (9000003L, "one two"),              // fewer tokens than k
      (9000004L, "a b c d e f g h"),      // exactly k tokens (k=8)
      (9000005L, "词 分 词 one 😀 two three four five six"),
      (9000006L, "x y x y x y x y x y x y")) // repeated grams
      .toDF("doc_id", "text")
    val docs = graft.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).unionByName(edge)
    for (k <- Seq(8, 3, 1)) {
      val base = graft.operators.Dedup.spanBase(docs, "text", "doc_id")
      val native = nativeForm(k)(base)
      val tree = treeForm(k)(base)
      val diff = native.exceptAll(tree).union(tree.exceptAll(native))
      assert(diff.isEmpty,
        s"(k=$k) kernel diverged:\n${diff.limit(5).collect().toSeq}")
    }
  }

  test("null token elements raise instead of silently mis-joining") {
    val df = Seq(1L).toDF("id")
      .select(col("id"), array(lit("a"), lit(null), lit("b")).as("_toks"))
    val e = intercept[Exception](
      df.select(TextSignatures.gramFingerprints(col("_toks"), 2)).collect())
    assert(e.getMessage != null)
  }
}
