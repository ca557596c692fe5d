package graft.perfbench

import graft.SparkEntry
import graft.data.CorpusGen
import graft.operators.{Bloom, Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size, xxhash64}
import scala.collection.mutable.ArrayBuffer

/** The query workload: `SparkEntry.queries` over the seeded tables in
  * `tables`, each to the noop sink, with both operator cache registries
  * released after every query.
  */
final class QueryWorkload(h: Harness, tables: String) {
  import h.tracer
  private val spark = h.spark

  /** The queries timed end to end: s3, whose candidate emission is
    * ROADMAP's next operator target, q6's semi and anti joins, and p1,
    * the one query without a SQL oracle. A run must end within its time
    * budget: on the sf0.1-shaped tables a cold s3 takes ~20 s and a
    * warm one ~9 s on 4 cores, so d2 (~10 s cold, ~5 s warm) is only
    * probed, in traced runs. q3 is left out because its oracle rounds
    * the revenue as a double: on an exact tie (a sum ending in 0.005)
    * it can round down where the query rounds the decimal up.
    */
  val Timed: Seq[String] = Seq("s3_cosine_neardups", "q6_semi_anti",
    "p1_extract_pipeline")

  private def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, tables)

  private def release(): Unit = {
    Dedup.releaseCaches()
    Bloom.releaseCaches()
  }

  /** Wall seconds of one query to the noop sink; None if it threw. */
  def time(name: String): Option[Double] = {
    val t0 = System.nanoTime()
    val ok =
      try {
        tracer.span(s"query.$name")(frame(name).write.format("noop").mode("overwrite").save())
        true
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] $name failed: $t")
          false
      } finally release()
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }

  /** Writes every timed query's result under `dir` (the warm-up pass);
    * the seconds each took, or None if it threw.
    */
  def writeResults(dir: String): Seq[(String, Option[Double])] = Timed.map { name =>
    val t0 = System.nanoTime()
    try {
      frame(name).write.mode("overwrite").parquet(s"$dir/$name")
      name -> Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] $name failed: $t")
        name -> None
    } finally release()
  }

  /** The oracle SQL of the timed queries, as graft.Verify writes it. */
  def oracleJson: String =
    Json(SparkEntry.oracleSql.filter { case (k, _) => Timed.contains(k) })

  /** p1 has no SQL oracle: compare its rows with the same columns
    * computed from CorpusGen's goldens. Returns the differing rows.
    */
  def p1Mismatches(dir: String): Long = {
    import spark.implicits._
    val golden = spark.createDataset(CorpusGen.goldens(300).map(_.expected)).toDF()
      .select(col("doc_id"), size(col("spans")).as("n_spans"), col("spans_in"),
        col("success"), xxhash64(col("spans")).as("span_digest"))
    val got = spark.read.parquet(s"$dir/p1_extract_pipeline")
    got.exceptAll(golden).count() + golden.exceptAll(got).count()
  }

  /** One run of `name` to the noop sink with its listener counts;
    * None if it threw.
    */
  def profile(name: String): Option[(Double, Counts)] = {
    val sc = spark.sparkContext
    h.counters.reset(sc)
    val t = time(name)
    val c = h.counters.snapshot(sc)
    t.map(_ -> c)
  }

  /** Per-layer metrics (traced run): the time and counts of one
    * `profile`d run of every timed query, their totals, and the
    * candidate and output pair counts of s3's and d2's operators under
    * the queries' parameters; s3's output pairs are the rows of its
    * result in `resultDir`.
    */
  def layers(profiled: Map[String, (Double, Counts)],
      resultDir: String): Seq[(String, Double, String)] = {
    val out = ArrayBuffer.empty[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    val runs = Timed.flatMap(n => profiled.get(n).map(n -> _))
    runs.foreach { case (name, (t, c)) =>
      add(s"query.${name}_s", t, "s")
      add(s"query.${name}_shuffle_bytes", c.shuffleWrite.toDouble, "bytes")
      add(s"query.${name}_tasks", c.tasks.toDouble, "count")
    }
    val counts = runs.map(_._2._2)
    add("query.jobs", counts.map(_.jobs).sum.toDouble, "count")
    add("query.stages", counts.map(_.stages).sum.toDouble, "count")
    add("query.tasks", counts.map(_.tasks).sum.toDouble, "count")
    add("query.shuffle_bytes", counts.map(_.shuffleWrite).sum.toDouble, "bytes")
    add("query.spill_bytes", counts.map(_.spill).sum.toDouble, "bytes")

    val emb = spark.read.parquet(s"$tables/embeddings.parquet")
    val planes = Similarity.sizePlanes(emb.count(), SparkEntry.S3TargetBucket)
    add("operators.s3_candidates", tracer.span("operators.s3_candidates") {
      Similarity.candidatePairs(emb, "embedding", "vec_id", planes,
        SparkEntry.S3Tables, SparkEntry.S3MaxBucket).count()
    }.toDouble, "count")
    add("operators.s3_pairs",
      spark.read.parquet(s"$resultDir/s3_cosine_neardups").count().toDouble, "count")
    release()
    val docs = spark.read.parquet(s"$tables/documents.parquet")
    add("operators.d2_candidates", tracer.span("operators.d2_candidates") {
      Dedup.jaccardCandidates(docs, "text", "doc_id", n = 3, minJ = 0.5).count()
    }.toDouble, "count")
    add("operators.d2_pairs", tracer.span("operators.d2_pairs") {
      Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, minJ = 0.5).count()
    }.toDouble, "count")
    release()
    out.toSeq
  }
}
