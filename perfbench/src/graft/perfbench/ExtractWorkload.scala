package graft.perfbench

import graft.{Job, Pipeline}
import graft.data.CorpusGen
import graft.extract.Extractor
import graft.model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{coalesce, count, hash, lit, max, pmod, sum, when}
import scala.collection.mutable.ArrayBuffer

/** The extraction workloads: CorpusGen docs, written to parquet in
  * set-up, run through `Job.runResumable` into fresh snapshot stores
  * in the 4 hash buckets `graft.Main --in … --buckets 4` uses.
  *
  * @param docs    corpus size
  * @param genCfg  mega-doc shape (megaEvery = 0: no mega-docs)
  */
final class ExtractWorkload(h: Harness, docs: Long,
    genCfg: CorpusGen.GenConfig) {
  import h.tracer
  private val spark = h.spark
  import spark.implicits._

  val Buckets = 4
  private val input = s"${h.work}/input"
  private val goldens = s"${h.work}/goldens"
  private val cfg = ExtractConfig(partitions = h.shufflePartitions)
  private var storeSeq = 0

  /** Corpus generation only: `genDoc(seed, i).input` to parquet. */
  def generate(): Unit = {
    Stats.deleteTree(input)
    val seed = h.seed
    val g = genCfg
    spark.range(0, docs, 1, h.shufflePartitions)
      .mapPartitions(_.map(i => CorpusGen.genDoc(seed, i, g).input))
      .write.parquet(input)
  }

  /** The golden span sequence of every doc, to parquet, for `check`. */
  def writeGoldens(): Unit = {
    val seed = h.seed
    val g = genCfg
    spark.range(0, docs, 1, h.shufflePartitions)
      .mapPartitions(_.map(i => CorpusGen.genDoc(seed, i, g).expected))
      .map(d => (d.doc_id, d.spans.map(s => (s.kind, s.text, s.media_ref, s.order))))
      .toDF("id", "s").write.parquet(goldens)
  }

  private def inputDocs: Dataset[Doc] = spark.read.parquet(input).as[Doc]

  /** The split `graft.Main` applies to a `--in` table. */
  private def bucketOf(all: Dataset[Doc], b: Int): Dataset[Doc] =
    all.filter(pmod(hash(all("doc_id")), lit(Buckets)) === lit(b))

  final case class JobRun(store: TimedStore, wallS: Double, docsCommitted: Long,
      bucketS: Seq[Double])

  /** One resumable Job over the whole corpus into a fresh store; bucket
    * times are stamped when the Job asks for each bucket's input.
    */
  def runJob(): JobRun = {
    storeSeq += 1
    val store = new TimedStore(s"${h.work}/store-$storeSeq", tracer)
    val all = inputDocs
    val stamps = ArrayBuffer.empty[Long]
    val bucketInput: Int => Dataset[Doc] = b => {
      stamps += System.nanoTime()
      tracer.span("job.bucket_input")(bucketOf(all, b))
    }
    val t0 = System.nanoTime()
    val (_, committed) = tracer.span("job.run_resumable") {
      Job.runResumable(spark, store, Buckets, bucketInput, cfg)
    }
    val t1 = System.nanoTime()
    val bucketS = (stamps :+ t1).sliding(2).map(p => (p(1) - p(0)) / 1e9).toSeq
    JobRun(store, (t1 - t0) / 1e9, committed, bucketS)
  }

  def dropStore(r: JobRun): Unit = Stats.deleteTree(r.store.root)

  /** Docs of a committed store that do not match their golden: missing,
    * extra or duplicated rows, success = false, or a span sequence that
    * differs on (kind, text, media_ref, order). Also counts the gap
    * between the snapshot's claimed doc total and the rows read back.
    */
  def check(store: graft.snapshot.SnapshotStore): (Long, Long) = tracer.span("check.goldens") {
    val got = Job.readExtracted(spark, store).map(d => (d.doc_id, d.spans.map(s =>
      (s.kind, s.text, s.media_ref, s.order)), d.success)).toDF("id", "s", "ok")
    val exp = spark.read.parquet(goldens)
    // one pass: per doc id, the joined rows (> 1: duplicated), the rows
    // read back, and whether any joined row differs from the golden
    val perId = exp.join(got, Seq("id"), "full_outer").groupBy("id").agg(
      count(lit(1)).as("n"), count(got("s")).as("read"),
      max((exp("s").isNull || got("s").isNull || !got("ok") || exp("s") =!= got("s"))
        .cast("int")).as("differs"))
    val totals = perId.agg(
      coalesce(sum(when($"n" > 1 || $"differs" === 1, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum($"read"), lit(0L))).first()
    val claimed = store.latest.map(_.buckets.map(_.docs).sum).getOrElse(0L)
    (totals.getLong(0), math.abs(claimed - totals.getLong(1)))
  }

  /** A copy of `store` in which one committed doc has one changed
    * character; the golden check must report exactly one bad doc.
    */
  def corruptedCopy(store: graft.snapshot.SnapshotStore): graft.snapshot.SnapshotStore = {
    val copy = new graft.snapshot.SnapshotStore(s"${h.work}/corrupt")
    val snap = store.latest.get
    val victim = Job.readExtracted(spark, store)
      .filter(_.spans.nonEmpty).map(_.doc_id).orderBy("value").first()
    snap.buckets.foreach { e =>
      val rows = spark.read.parquet(e.dataDir).as[ExtractedDoc]
      val changed = rows.map { d =>
        if (d.doc_id != victim) d
        else d.copy(spans = d.spans.updated(0,
          d.spans.head.copy(text = d.spans.head.text + "!")))
      }
      val (data, audit) = copy.newWriteDirs(e.bucket)
      changed.write.parquet(data)
      copy.commit(e.bucket, data, audit, e.docs, snap.schema_json)
    }
    copy
  }

  def inputSpans(): Long =
    inputDocs.map(d => if (d.spans == null) 0L else d.spans.size.toLong)
      .reduce(_ + _)

  /** Per-layer probes (traced run). */
  def layers(last: JobRun): Seq[(String, Double, String)] = {
    val out = ArrayBuffer.empty[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    val c = h.counters
    val sc = spark.sparkContext
    val nproc = h.nproc

    // graft.extract: the kernels alone, over the decoded input
    val k = tracer.span("extract.kernel_pass") {
      inputDocs.mapPartitions { it =>
        // [count, ns, empty] x (html, pdf, image, other), bytesIn, bytesOut
        val a = new Array[Long](14)
        it.foreach { d =>
          if (d.spans != null) d.spans.foreach { sp =>
            val slot = sp.kind match {
              case "html" => 0; case "pdf" => 1; case "image" => 2; case _ => 3
            }
            val t0 = System.nanoTime()
            val e = Extractor.extractSpan(
              SpanRow(d.doc_id, sp.kind, sp.text, sp.media_ref, sp.offset),
              OutFormat.Plain)
            a(slot * 3 + 1) += System.nanoTime() - t0
            a(slot * 3) += 1
            if (e.text.isEmpty) a(slot * 3 + 2) += 1
            if (sp.text != null) a(12) += sp.text.length
            a(13) += e.text.length
          }
        }
        Iterator(a)
      }.collect().reduce((x, y) => x.zip(y).map(p => p._1 + p._2))
    }
    val kinds = Seq("html", "pdf", "image", "other")
    def total(field: Int): Long = kinds.indices.map(i => k(i * 3 + field)).sum
    kinds.zipWithIndex.foreach { case (kind, i) =>
      if (i < 3) add(s"extract.${kind}_ns_per_span",
        if (k(i * 3) == 0) 0.0 else k(i * 3 + 1).toDouble / k(i * 3), "ns")
      add(s"extract.spans_$kind", k(i * 3).toDouble, "count")
    }
    val spans = total(0)
    add("extract.empty_ratio",
      if (spans == 0) 0.0 else total(2).toDouble / spans,
      "ratio")
    add("extract.bytes_in", k(12).toDouble, "bytes")
    add("extract.bytes_out", k(13).toDouble, "bytes")
    val kernelS = total(1) / 1e9

    // graft.Pipeline: scan+decode fold, the full pipeline to noop, and
    // the same to parquet (the sink), each timed 3 times, interleaved
    val sinkDir = s"${h.work}/sink-probe"
    var pc: Counts = null
    val probes = (1 to 3).map { _ =>
      val scan = timed(tracer.span("pipeline.scan") {
        inputDocs.mapPartitions(it => Iterator(it.size.toLong)).collect()
      })
      c.reset(sc)
      val noop = timed(tracer.span("pipeline.extract_noop") {
        Pipeline.extract(inputDocs, cfg, audit = Pipeline.auditAccumulator(spark))
          .write.format("noop").mode("overwrite").save()
      })
      pc = c.snapshot(sc)
      val parquet = timed(tracer.span("sink.parquet") {
        Pipeline.extract(inputDocs, cfg, audit = Pipeline.auditAccumulator(spark))
          .write.parquet(sinkDir)
      })
      Stats.deleteTree(sinkDir)
      (scan, noop, parquet)
    }
    val scanS = Stats.median(probes.map(_._1))
    val noopS = Stats.median(probes.map(_._2))
    val parquetS = Stats.median(probes.map(_._3))
    add("pipeline.scan_s", scanS, "s")
    add("pipeline.extract_noop_s", noopS, "s")
    // kernel time is summed over tasks; nproc tasks run at once
    add("pipeline.fused_overhead_s", noopS - scanS - kernelS / nproc, "s")
    add("pipeline.input_scans", scans(inputDocs).toDouble, "count")
    add("pipeline.shuffle_write_bytes", pc.shuffleWrite.toDouble, "bytes")
    add("pipeline.shuffle_read_bytes", pc.shuffleRead.toDouble, "bytes")
    add("pipeline.spill_bytes", pc.spill.toDouble, "bytes")
    add("pipeline.peak_exec_mem_bytes", pc.peakMem.toDouble, "bytes")
    add("pipeline.tasks", pc.tasks.toDouble, "count")
    add("pipeline.task_skew", pc.taskSkew, "ratio")

    // the same pipeline over a corpus without mega-docs: every doc takes
    // the fused path, so nothing should be shuffled
    val plain = s"${h.work}/input-plain"
    val seed = h.seed
    spark.range(0, 1000, 1, h.shufflePartitions)
      .mapPartitions(_.map(i => CorpusGen.genDoc(seed, i).input)).write.parquet(plain)
    c.reset(sc)
    tracer.span("pipeline.extract_noop_plain") {
      Pipeline.extract(spark.read.parquet(plain).as[Doc], cfg,
        audit = Pipeline.auditAccumulator(spark)).write.format("noop").mode("overwrite").save()
    }
    add("pipeline.bypass_shuffle_write_bytes", c.snapshot(sc).shuffleWrite.toDouble, "bytes")

    add("sink.write_s", parquetS - noopS, "s")

    // graft.Job + graft.snapshot, from the last traced Job run
    add("job.wall_s", last.wallS, "s")
    add("job.bucket_s_p50", Stats.median(last.bucketS), "s")
    add("job.bucket_s_max", last.bucketS.max, "s")
    val all = inputDocs
    add("job.input_scans",
      (0 until Buckets).map(b => scans(bucketOf(all, b))).sum.toDouble, "count")
    add("sink.bytes_written",
      last.store.dataPaths().map(Stats.dirBytes).sum.toDouble, "bytes")
    add("snapshot.commit_s", last.store.commitNs / 1e9, "s")
    add("snapshot.latest_calls", last.store.latestCalls.toDouble, "count")
    add("snapshot.latest_s", last.store.latestNs / 1e9, "s")
    add("snapshot.read_s", timed(tracer.span("snapshot.read") {
      Job.readExtracted(spark, last.store).write.format("noop").mode("overwrite").save()
    }), "s")
    add("job.resume_noop_s", timed(tracer.span("job.resume_noop") {
      val (ran, _) = Job.runResumable(spark, last.store, Buckets,
        b => bucketOf(all, b), cfg)
      require(ran == 0, s"resume on a complete store ran $ran buckets")
    }), "s")
    out.toSeq
  }

  /** Docs/s of the pipeline to noop at local[nproc] ÷ (nproc × its
    * docs/s at local[1]), given its local[nproc] time. Restarts the
    * session at local[1].
    */
  def scaling(noopS: Double): Double = {
    val one = h.restartSession(1)
    import one.implicits._
    val ds = one.read.parquet(input).as[Doc]
    Pipeline.extract(ds, cfg).write.format("noop").mode("overwrite").save()
    val t1 = timed(tracer.span("pipeline.extract_noop_local1") {
      Pipeline.extract(ds, cfg).write.format("noop").mode("overwrite").save()
    })
    t1 / (h.nproc * noopS)
  }

  private def scans(ds: Dataset[Doc]): Int =
    Pipeline.extract(ds, cfg).queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.size

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
