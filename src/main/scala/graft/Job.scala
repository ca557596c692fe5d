package graft

import graft.model._
import graft.snapshot.SnapshotStore
import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Resumable bucketed extraction job: the unit of checkpointing is a
  * bucket of the document space; each completed bucket is committed as a
  * snapshot (graft.snapshot.SnapshotStore). A killed run restarts at the
  * last committed bucket set — re-running is idempotent because commits
  * of an already-committed bucket are rejected and data dirs are
  * uuid-fresh per attempt (orphan dirs from a kill are never referenced
  * by any snapshot).
  *
  * Buckets overlap: up to 4 buckets are in flight at once, each as its
  * own Spark jobs (data write, then audit write) on a small worker pool,
  * so one bucket's fixed cost (planning, empty salted stages, the audit
  * job) hides behind another's tasks. Commits stay in bucket order — a
  * bucket commits once it and every earlier bucket of the run are done —
  * so the committed set is always an in-order prefix, and a kill loses
  * at most the 4 in-flight buckets' uncommitted work.
  *
  * At 10^12-doc scale the input table is partitioned by
  * bucket(hash(doc_id)) so each bucket run scans only its own input
  * partitions (partition pruning); in this sandbox the generated corpus
  * achieves the same via index-range bucket inputs.
  */
object Job {

  /** Buckets whose Spark jobs may run at the same time. */
  private val InFlight = 4

  /** A submitted bucket: its write runs on the pool; the rest is what the
    * caller's thread needs to commit it.
    */
  private final case class Slot(bucket: Int, dataDir: String,
      auditDir: String, schemaJson: String, docs: CompletableFuture[Long])

  /** Run all not-yet-committed buckets, overlapped, committed in order.
    *
    * Only the two Spark actions per bucket run on the worker pool.
    * `bucketInput`, plan construction, `store.latest`,
    * `store.newWriteDirs` and every `store.commit` run on the calling
    * thread — `bucketInput` is called in bucket order as each bucket is
    * submitted — so neither `bucketInput` nor the store needs to be
    * thread-safe. The i-th bucket started by this run gets snapshot (and
    * audit) id latest + 1 + i, which its in-order commit then takes.
    *
    * On the first failure no further bucket is started; buckets before
    * the failed one still finish and commit, later in-flight ones are
    * awaited but not committed (their dirs become orphans), and the
    * failure is rethrown.
    *
    * @param bucketInput  bucket id → its input docs (caller guarantees
    *                     the union over buckets is the full corpus and
    *                     buckets are disjoint)
    * @param maxBuckets   start at most this many buckets in THIS run
    *                     (-1 = all) — used by kill/resume tests and
    *                     incremental production runs
    * @return (bucketsCommittedThisRun, docsWrittenThisRun)
    */
  def runResumable(spark: SparkSession, store: SnapshotStore,
      numBuckets: Int, bucketInput: Int => Dataset[Doc],
      cfg: ExtractConfig, maxBuckets: Int = -1): (Int, Long) = {
    import spark.implicits._
    val start = store.latest
    val done = start.map(_.committedBuckets).getOrElse(Set.empty[Int])
    val baseId = start.map(_.snapshot_id).getOrElse(0L)
    val todo = (0 until numBuckets).filterNot(done.contains)
      .take(if (maxBuckets < 0) numBuckets else maxBuckets)
    if (todo.isEmpty) return (0, 0L)

    val pool = Executors.newFixedThreadPool(math.min(InFlight, todo.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-job-bucket")
        t.setDaemon(true)
        t
      })

    def submit(b: Int, i: Int): Slot = {
      val acc = Pipeline.auditAccumulator(spark)
      val out = Pipeline.extract(bucketInput(b), cfg,
        snapshotId = baseId + 1 + i, audit = acc)
      val (dataDir, auditDir) = store.newWriteDirs(b)
      val docs = CompletableFuture.supplyAsync(() => {
        out.write.mode(SaveMode.ErrorIfExists).parquet(dataDir)
        val audit = Pipeline.auditRows(acc)
        spark.createDataset(audit).coalesce(1)
          .write.mode(SaveMode.ErrorIfExists).parquet(auditDir)
        audit.map(_.docs).sum
      }, pool)
      Slot(b, dataDir, auditDir, out.schema.json, docs)
    }

    val inFlight = mutable.Queue.empty[Slot]
    var ran = 0
    var docsWritten = 0L
    var failure: Throwable = null
    try {
      val pending = todo.iterator.zipWithIndex
      while (failure == null && (pending.hasNext || inFlight.nonEmpty)) {
        if (pending.hasNext && inFlight.size < InFlight &&
            !inFlight.exists(_.docs.isCompletedExceptionally)) {
          val (b, i) = pending.next()
          // a failure while setting up a bucket is that bucket's failure:
          // earlier in-flight buckets still commit before it is rethrown
          inFlight.enqueue(try submit(b, i) catch {
            case NonFatal(e) =>
              Slot(b, null, null, null, CompletableFuture.failedFuture[Long](e))
          })
        } else {
          val s = inFlight.dequeue()
          try {
            val docs = s.docs.get()
            store.commit(s.bucket, s.dataDir, s.auditDir, docs, s.schemaJson)
            ran += 1
            docsWritten += docs
          } catch {
            case e: ExecutionException => failure = e.getCause
            case NonFatal(e) => failure = e
          }
        }
      }
    } finally {
      // later buckets are awaited, never committed
      inFlight.foreach(s => try s.docs.get() catch { case _: Exception => () })
      pool.shutdown()
    }
    if (failure != null) throw failure
    (ran, docsWritten)
  }

  /** Read the committed table at a snapshot with schema evolution:
    * parquet footers are merged across buckets, then the rows are
    * reconciled to the snapshot's tracked schema — columns added by
    * later writers surface as typed nulls on older buckets, and a
    * time-travel read at an old snapshot sees that snapshot's schema,
    * not the latest one.
    */
  def readData(spark: SparkSession, store: SnapshotStore,
      snapshotId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{DataType, StructType}
    val paths = store.dataPaths(snapshotId)
    require(paths.nonEmpty, s"no committed snapshot under ${store.root}")
    val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    store.schemaAt(snapshotId) match {
      case Some(json) =>
        val target = DataType.fromJson(json).asInstanceOf[StructType]
        // existing columns are cast to the TRACKED type, not left at the
        // parquet-merged one, so reads always conform to the snapshot's
        // schema even when a later writer widened a type (note parquet
        // mergeSchema itself rejects conflicting physical types across
        // buckets — cross-bucket type evolution requires rewriting old
        // buckets, as in real Iceberg; the cast covers same-bucket and
        // time-travel reads). Nullability is normalized before the
        // compare/cast: encoder-derived tracked schemas mark primitives
        // NOT NULL while parquet reads back nullable, and the analyzer
        // rejects casting to a NOT NULL nested field.
        df.select(target.fields.toSeq.map { f =>
          val want = nullify(f.dataType)
          if (!df.columns.contains(f.name)) lit(null).cast(want).as(f.name)
          else if (nullify(df.schema(f.name).dataType) == want) col(f.name)
          else col(f.name).cast(want).as(f.name)
        }: _*)
      case None => df
    }
  }

  /** Recursively mark every field/element nullable (the public-API
    * equivalent of Spark's private DataType.asNullable).
    */
  private def nullify(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullify(a.elementType), true)
      case m: MapType => MapType(nullify(m.keyType), nullify(m.valueType), true)
      case other => other
    }
  }

  /** Read the committed table at the latest snapshot. */
  def readExtracted(spark: SparkSession,
      store: SnapshotStore): Dataset[ExtractedDoc] = {
    import spark.implicits._
    readData(spark, store).as[ExtractedDoc]
  }

  def readAudit(spark: SparkSession, store: SnapshotStore): Dataset[AuditRow] = {
    import spark.implicits._
    val paths = store.auditPaths()
    require(paths.nonEmpty, s"no committed snapshot under ${store.root}")
    spark.read.parquet(paths: _*).as[AuditRow]
  }
}
