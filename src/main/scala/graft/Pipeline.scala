package graft

import graft.extract.Extractor
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import scala.collection.mutable.ArrayBuffer

/** The distributed extraction pipeline (SURVEY.md §3.4), two-path:
  *
  * FUSED PATH (docs with <= saltThreshold spans — virtually the whole
  * corpus):
  *   docs → typed mapPartitions over Dataset[Doc]:
  *            per doc: extract every span, sort by offset, reassemble
  *   ZERO shuffles. Explode + salt + reassembly are provably fusible for
  *   a doc whose spans fit one task: every span of the doc is already
  *   co-located in its input row, so the shuffle round-trip would move
  *   bytes only to bring them back together. saltThreshold bounds the
  *   per-task working set.
  *
  * SALTED PATH (mega-docs above the threshold — the skew tail):
  *   explode(spans)
  *     → salted repartition on hash(doc_id, offset/chunkSpans)
  *       [shuffle #1 — spreads one 10^6-span doc over ceil(n/chunk)
  *        partitions for the CPU-heavy extract stage; north_rule's
  *        "salted repartitioning on doc_id hash to defuse skew"]
  *     → typed mapPartitions extract
  *     → repartition(doc_id) + sortWithinPartitions(doc_id, offset)
  *       [shuffle #2 — secondary sort so the group-merge streams]
  *     → streaming group-merge reassembly.
  *
  * The two branches are unioned; both run in one Spark job. At 10^12-doc
  * scale the split predicate (size(spans) > t) is evaluated scan-side;
  * a production table would additionally band its partitioning by span
  * count so each branch prunes instead of re-scanning.
  *
  * Extractor state is amortized per partition via mapPartitions
  * (north_star; reference analog: lazy model loading
  * core/models/ocr_engine.py:32-71).
  */
object Pipeline {

  /** Internal flattened row after explode (null kind = empty doc).
    * `pos` = the span's index within the input array — the stable
    * tie-breaker when offsets duplicate, matching the fused path's
    * input-order-stable sort.
    */
  private[graft] final case class InRow(doc_id: String, kind: String,
      text: String, media_ref: String, offset: Int, pos: Int, spans_in: Int)

  /** Internal extracted row carried into reassembly. */
  private[graft] final case class ExRow(doc_id: String, kind: String,
      text: String, media_ref: String, offset: Int, pos: Int, spans_in: Int,
      in_len: Int, err: String)

  /** Flatten docs into one row per span. Empty docs survive as a single
    * null-kind row (explode_outer) so they still yield an output row.
    */
  private def flatten(docs: Dataset[Doc]): Dataset[InRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", size($"spans").as("spans_in"),
        posexplode_outer($"spans").as(Seq("pos", "s")))
      .select($"doc_id", $"s.kind".as("kind"), $"s.text".as("text"),
        $"s.media_ref".as("media_ref"),
        coalesce($"s.offset", lit(-1)).as("offset"),
        coalesce($"pos", lit(-1)).as("pos"),
        greatest($"spans_in", lit(0)).as("spans_in"))
      .as[InRow]
  }

  private def extractRow(r: InRow, fmt: OutFormat): ExRow = {
    if (r.kind == null) // empty doc marker
      return ExRow(r.doc_id, null, "", null, -1, -1, r.spans_in, 0, null)
    val inLen = if (r.text == null) 0 else r.text.length
    try {
      val e = Extractor.extractSpan(
        SpanRow(r.doc_id, r.kind, r.text, r.media_ref, r.offset), fmt)
      ExRow(r.doc_id, e.kind, e.text, e.media_ref, e.offset, r.pos,
        r.spans_in, inLen, null)
    } catch {
      case t: Throwable => // never poison the partition: fail the doc soft
        ExRow(r.doc_id, r.kind, "", null, r.offset, r.pos, r.spans_in, inLen,
          s"${t.getClass.getSimpleName}: ${t.getMessage}")
    }
  }

  /** Per-partition audit metric counters + finalizing iterator wrapper
    * (emits exactly one AuditRow after the last row of the partition).
    */
  private final class AuditCollector(snapshotId: Long,
      audit: CollectionAccumulator[AuditRow]) extends Serializable {
    private val t0 = System.nanoTime()
    var docs = 0L
    var nHtml = 0L; var nPdf = 0L; var nImage = 0L
    var bytesIn = 0L; var bytesOut = 0L
    var docMin: String = null; var docMax: String = null

    def seeSpanKind(kind: String): Unit = kind match {
      case "html"  => nHtml += 1
      case "pdf"   => nPdf += 1
      case "image" => nImage += 1
      case _       => ()
    }

    def seeDoc(docId: String): Unit = {
      docs += 1
      if (docMin == null || docId < docMin) docMin = docId
      if (docMax == null || docId > docMax) docMax = docId
    }

    def wrap(out: Iterator[ExtractedDoc]): Iterator[ExtractedDoc] =
      new Iterator[ExtractedDoc] {
        private var finalized = false
        override def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !finalized) {
            finalized = true
            if (audit != null && docs > 0) { // empty partitions: no lineage
              val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
              audit.add(AuditRow(snapshotId, pid, docMin, docMax, docs,
                nHtml, nPdf, nImage, bytesIn, bytesOut,
                (System.nanoTime() - t0) / 1000000L, "committed"))
            }
          }
          h
        }
        override def next(): ExtractedDoc = out.next()
      }
  }

  /** Reassemble sorted (doc_id, offset) rows into per-doc output rows,
    * streaming one group at a time. Optionally records one audit row per
    * partition into `audit` (lineage + metrics, FIXTURES.md §3).
    */
  private def reassemble(it: Iterator[ExRow], snapshotId: Long,
      audit: CollectionAccumulator[AuditRow]): Iterator[ExtractedDoc] = {
    val ac = new AuditCollector(snapshotId, audit)
    val buf = it.buffered
    val out = new Iterator[ExtractedDoc] {
      override def hasNext: Boolean = buf.hasNext
      override def next(): ExtractedDoc = {
        val docId = buf.head.doc_id
        val outs = new ArrayBuffer[OutSpan]()
        var spansIn = 0
        var err: String = null
        while (buf.hasNext && buf.head.doc_id == docId) {
          val r = buf.next()
          spansIn = r.spans_in
          ac.bytesIn += r.in_len
          ac.seeSpanKind(r.kind)
          if (r.err != null && err == null) err = r.err
          if (r.text != null && r.text.nonEmpty) {
            outs += OutSpan(r.kind, r.text, r.media_ref, outs.length)
            ac.bytesOut += r.text.length
          }
        }
        ac.seeDoc(docId)
        ExtractedDoc(docId, outs.toSeq, spansIn, err == null, err)
      }
    }
    ac.wrap(out)
  }

  /** Fused zero-shuffle path: extract + reassemble one doc at a time,
    * entirely inside a typed mapPartitions over Dataset[Doc]. Correct for
    * any doc whose spans fit in one task (enforced by saltThreshold).
    */
  private def extractFused(it: Iterator[Doc], fmt: OutFormat,
      snapshotId: Long,
      audit: CollectionAccumulator[AuditRow]): Iterator[ExtractedDoc] = {
    val ac = new AuditCollector(snapshotId, audit)
    val out = it.map { d0 =>
      // null spans array (possible from external tables / nullable
      // streaming schemas) behaves like an empty doc
      val d = if (d0.spans == null) d0.copy(spans = Nil) else d0
      val sorted =
        if (d.spans.isEmpty) d.spans
        else d.spans.sortBy(_.offset)
      val outs = new ArrayBuffer[OutSpan]()
      var err: String = null
      sorted.foreach { sp =>
        ac.seeSpanKind(sp.kind)
        if (sp.text != null) ac.bytesIn += sp.text.length
        try {
          val e = Extractor.extractSpan(
            SpanRow(d.doc_id, sp.kind, sp.text, sp.media_ref, sp.offset), fmt)
          if (e.text.nonEmpty) {
            outs += OutSpan(e.kind, e.text, e.media_ref, outs.length)
            ac.bytesOut += e.text.length
          }
        } catch {
          case t: Throwable =>
            if (err == null)
              err = s"${t.getClass.getSimpleName}: ${t.getMessage}"
        }
      }
      ac.seeDoc(d.doc_id)
      ExtractedDoc(d.doc_id, outs.toSeq, d.spans.size, err == null, err)
    }
    ac.wrap(out)
  }

  /** Full pipeline. When `audit` is non-null, one AuditRow per reassembly
    * partition is accumulated as a side output (driver-side table write —
    * P rows, tiny) once an action runs.
    */
  def extract(docs: Dataset[Doc], cfg: ExtractConfig = ExtractConfig(),
      snapshotId: Long = 0L,
      audit: CollectionAccumulator[AuditRow] = null): Dataset[ExtractedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parts =
      if (cfg.partitions > 0) cfg.partitions
      else spark.sessionState.conf.numShufflePartitions
    val fmt = cfg.format

    // External/parquet schemas may declare span offsets nullable; the
    // typed fused path would then die on the encoder's non-nullable Int
    // ("null value in non-nullable field") while the salted path
    // coalesces to -1 — normalize ONCE up front so one bad row soft-
    // fails identically on both branches. Skipped entirely (no extra
    // pass) when the schema already guarantees non-null offsets.
    val offsetNullable = {
      import org.apache.spark.sql.types.{ArrayType, StructType}
      docs.schema("spans").dataType match {
        case ArrayType(st: StructType, _) => st("offset").nullable
        case _ => false
      }
    }
    val in: Dataset[Doc] =
      if (!offsetNullable) docs
      else docs.toDF().withColumn("spans", expr(
        "transform(spans, s -> named_struct(" +
          "'kind', s.kind, 'text', s.text, 'media_ref', s.media_ref, " +
          "'offset', coalesce(s.offset, -1)))")).as[Doc]

    // fused zero-shuffle path for everything but the mega-doc skew tail;
    // null spans arrays count as size 0 (ANSI size(null) is null, which
    // would otherwise drop the doc from BOTH branches)
    val nSpans = coalesce(size($"spans"), lit(0))
    val light = in.filter(nSpans <= cfg.saltThreshold)
      .mapPartitions(it => extractFused(it, fmt, snapshotId, audit))

    // salted explode/shuffle path for mega-docs
    val heavyDocs = in.filter(nSpans > cfg.saltThreshold)
    val flat = flatten(heavyDocs)
    // shuffle #1: salted — spreads a mega-doc's spans across partitions
    val salted = flat.repartition(parts,
      hash($"doc_id", floor($"offset" / lit(cfg.chunkSpans))))
    val extracted = salted
      .mapPartitions(it => it.map(extractRow(_, fmt)))
    // shuffle #2: co-locate + secondary-sort, then stream-merge per doc;
    // `pos` tie-breaks duplicate offsets deterministically (same input-
    // order-stable semantics as the fused path's sortBy)
    val heavy = extracted
      .repartition(parts, $"doc_id")
      .sortWithinPartitions($"doc_id", $"offset", $"pos")
      .mapPartitions(it => reassemble(it, snapshotId, audit))

    light.unionByName(heavy)
  }

  /** Register an audit accumulator on the session. */
  def auditAccumulator(spark: SparkSession): CollectionAccumulator[AuditRow] = {
    val acc = new CollectionAccumulator[AuditRow]
    spark.sparkContext.register(acc, "graft.audit")
    acc
  }

  /** Collapse possibly-duplicated accumulator entries (task retries) to
    * one row per (partition, doc range) — last writer wins. The doc_id_min
    * component keeps the fused-path and salted-path rows for the same
    * partition id distinct (a doc lives in exactly one path).
    */
  def auditRows(acc: CollectionAccumulator[AuditRow]): Seq[AuditRow] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.groupBy(r => (r.partition_id, r.doc_id_min))
      .map(_._2.last).toSeq
      .sortBy(r => (r.partition_id, r.doc_id_min))
  }
}
