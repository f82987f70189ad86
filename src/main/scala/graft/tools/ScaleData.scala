package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an "sf1-like" dataset from an sf0.1 base by writing `copies`
  * key-shifted copies of every fact-like table (dimension tables region and
  * nation stay fixed — realistic: dimensions don't grow with facts).
  *
  * Foreign keys shift consistently with their referenced primary key
  * (copy k shifts o_custkey by k·(max c_custkey + 1), matching the shifted
  * customer copy), so join fan-outs stay 1:1 with the base data and the
  * scaled run measures shuffle/scan growth, not join explosion.
  *
  * Documents get a per-copy token salt so near-duplicate
  * PAIRS grow linearly with copies (plain duplication would grow candidate
  * pairs quadratically and measure the wrong workload), and embeddings flip
  * component signs on odd copies to keep cluster populations honest.
  */
object ScaleData {

  /** marker written after a complete generation; callers skip regeneration.
    * The marker RECORDS the base sf dir: a leftover from a different base
    * (round-10 bug: an sf0.01 smoke run's output satisfied the sf0.1 gate,
    * so the "10x" side was ~1x of the base and every ratio read sub-1)
    * must NOT be reused.
    */
  private def marker(outDir: String) = java.nio.file.Paths.get(outDir, "_GRAFT_SCALE_OK")

  /** bumped when the synthesis recipe changes, so cached data regenerates */
  private val GenVersion = "v2"

  private def markerContent(sfDir: String): String =
    s"$GenVersion ${java.nio.file.Paths.get(sfDir).toAbsolutePath}"

  def isGenerated(outDir: String, sfDir: String): Boolean = {
    val m = marker(outDir)
    java.nio.file.Files.exists(m) &&
      new String(java.nio.file.Files.readAllBytes(m), "UTF-8").trim ==
        markerContent(sfDir)
  }

  def generate(spark: SparkSession, sfDir: String, outDir: String, copies: Int = 10): Unit = {
    if (isGenerated(outDir, sfDir)) return
    val t: String => DataFrame = name => spark.read.parquet(s"$sfDir/$name.parquet")

    def maxOf(df: DataFrame, key: String): Long = df.agg(max(col(key))).head().getLong(0) + 1L

    // shift bases shared by every table referencing the key
    val custBase = maxOf(t("customer"), "c_custkey")
    val suppBase = maxOf(t("supplier"), "s_suppkey")
    val partBase = maxOf(t("part"), "p_partkey")
    val orderBase = maxOf(t("orders"), "o_orderkey")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    /** `copies` unions of df with the named long keys shifted per copy */
    def scale(df: DataFrame, shifts: Map[String, Long],
              perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { k =>
        val base = perCopy(df, k)
        shifts.foldLeft(base) { case (d, (key, b)) =>
          d.withColumn(key, col(key) + lit(k.toLong * b))
        }
      }.reduce(_.unionByName(_))

    write(t("region"), "region")
    write(t("nation"), "nation")
    // per-copy NAME salt (the documents-token-salt discipline): the linkage
    // family blocks on (name prefix, nation), so verbatim name copies grow
    // every block 10x on BOTH sides — a 100x pair explosion that measures
    // the synthesized collision, not the operator (round-10 honest-sf1
    // evidence: stream_link read 50x wall at 10x). Salted prefixes grow
    // block COUNT 10x at constant block size, as a real 10x customer
    // base would.
    write(scale(t("customer"), Map("c_custkey" -> custBase),
      perCopy = (d, k) => d.withColumn("c_name",
        concat(lit(s"c$k"), col("c_name")))), "customer")
    write(scale(t("supplier"), Map("s_suppkey" -> suppBase)), "supplier")
    write(scale(t("part"), Map("p_partkey" -> partBase)), "part")
    write(scale(t("orders"), Map("o_orderkey" -> orderBase, "o_custkey" -> custBase)), "orders")
    write(scale(t("lineitem"), Map(
      "l_orderkey" -> orderBase, "l_partkey" -> partBase, "l_suppkey" -> suppBase)), "lineitem")

    // events: the adaptive reader normalizes ts to a micros timestamp, so the
    // scaled copy is always written in the canonical encoding
    val ev = graft.sources.EventsReader.read(spark, sfDir)
    val userBase = maxOf(ev, "user_id")
    val eventBase = maxOf(ev, "event_id")
    write(scale(ev, Map("event_id" -> eventBase, "user_id" -> userBase)), "events")

    // documents: per-copy token salt — within-copy near-dup structure is
    // preserved, cross-copy shingle overlap collapses to ~0
    val docs = t("documents")
    val docBase = maxOf(docs, "doc_id")
    write(scale(docs, Map("doc_id" -> docBase), (d, k) =>
      d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c$k" + "$1"))),
      "documents")

    // embeddings: odd copies flip signs (cheap per-copy decorrelation)
    val emb = t("embeddings")
    val vecBase = maxOf(emb, "vec_id")
    write(scale(emb, Map("vec_id" -> vecBase), (d, k) =>
      if (k % 2 == 0) d
      else d.withColumn("embedding", transform(col("embedding"), x => -x))),
      "embeddings")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(marker(outDir),
      markerContent(sfDir).getBytes("UTF-8"))
  }
}
