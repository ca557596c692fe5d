package graft

import graft.data.CorpusGen
import graft.model._
import graft.snapshot.SnapshotStore
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.explode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Checkpoint/resume via committed snapshots (north_rule): a run killed
  * after k buckets restarts at the last committed bucket set; the final
  * table equals the uninterrupted run's table with no duplicated
  * partitions.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 200
  private val B = 4

  private def bucketInput(b: Int): Dataset[Doc] = {
    import spark.implicits._
    val per = N / B
    spark.range(b.toLong * per, (b + 1).toLong * per)
      .map(i => CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input)
  }

  /** Every doc exactly once, with the golden spans. */
  private def assertGolden(store: SnapshotStore): Unit = {
    import spark.implicits._
    val table = Job.readExtracted(spark, store)
    assert(table.count() == N.toLong)
    assert(table.groupBy($"doc_id").count().filter($"count" =!= 1).count() == 0)
    val expected = CorpusGen.goldens(N).map(_.expected)
    val a = table.select($"doc_id", explode($"spans").as("s"))
    val e = expected.toDS().select($"doc_id", explode($"spans").as("s"))
    assert(a.exceptAll(e).count() == 0)
    assert(e.exceptAll(a).count() == 0)
  }

  test("kill after 2 of 4 buckets, resume, final table complete + exact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(root)
    val cfg = ExtractConfig(partitions = 4)

    // first run "killed" after 2 buckets; only those two inputs are
    // asked for, on the calling thread
    val calls = ArrayBuffer.empty[(Int, Thread)]
    val recording: Int => Dataset[Doc] = b => {
      calls += ((b, Thread.currentThread()))
      bucketInput(b)
    }
    val (ran1, _) = Job.runResumable(spark, store, B, recording, cfg, maxBuckets = 2)
    assert(ran1 == 2)
    assert(calls.map(_._1) == Seq(0, 1))
    assert(calls.forall(_._2 eq Thread.currentThread()))
    assert(store.committedBuckets == Set(0, 1))
    assert(store.latest.get.snapshot_id == 2L)

    // restart: a fresh store handle resumes from the commit log
    val store2 = new SnapshotStore(root)
    val (ran2, _) = Job.runResumable(spark, store2, B, bucketInput, cfg)
    assert(ran2 == 2)
    assert(store2.committedBuckets == Set(0, 1, 2, 3))

    // third run is a no-op (idempotent)
    val (ran3, _) = Job.runResumable(spark, store2, B, bucketInput, cfg)
    assert(ran3 == 0)

    // final table: every doc exactly once, equal to expected goldens
    assertGolden(store2)

    // audit table covers all docs across snapshots
    val audit = Job.readAudit(spark, store2)
    assert(audit.as[AuditRow].collect().map(_.docs).sum == N.toLong)
  }

  // bucket 2 fails at write time (its input's tasks throw) or while it
  // is set up (bucketInput throws on the calling thread)
  Seq("at write time", "while set up").foreach { when =>
    test(s"a bucket failing $when: earlier buckets commit, later ones " +
        "do not, the failure propagates, and a rerun completes") {
      import spark.implicits._
      val root = Files.createTempDirectory("graft-snap7").toString
      val store = new SnapshotStore(root)
      val cfg = ExtractConfig(partitions = 4)
      val failing: Int => Dataset[Doc] = {
        case 2 if when == "while set up" =>
          throw new IllegalStateException("bucket 2 fails")
        case 2 =>
          bucketInput(2).mapPartitions(it =>
            it.map[Doc](_ => throw new IllegalStateException("bucket 2 fails")))
        case b => bucketInput(b)
      }

      val ex = intercept[Exception] {
        Job.runResumable(spark, store, B, failing, cfg)
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("bucket 2 fails")), ex)
      assert(store.committedBuckets == Set(0, 1))
      val last = store.latest.get.snapshot_id
      assert(last == 2L)
      (1L to last).foreach { id =>
        assert(store.readSnapshot(id).buckets.forall(_.bucket < 2), id)
      }

      val store2 = new SnapshotStore(root)
      val (ran, _) = Job.runResumable(spark, store2, B, bucketInput, cfg)
      assert(ran == 2)
      assert(store2.committedBuckets == Set(0, 1, 2, 3))
      assertGolden(store2)
    }
  }

  test("overlapped buckets commit in bucket order; audit rows carry the " +
      "id of the snapshot that adds their bucket") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap8").toString
    val store = new SnapshotStore(root)
    val cfg = ExtractConfig(partitions = 4)
    // bucket 0 (one input partition, so one task slot) cannot finish
    // until a task of bucket 1 has started: this only passes if the two
    // buckets run at the same time, and bucket 1 may well finish first
    ResumeSpec.bucket1Started = new CountDownLatch(1)
    val gated: Int => Dataset[Doc] = {
      case 0 =>
        spark.range(0L, (N / B).toLong, 1L, 1)
          .map(i => CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input)
          .mapPartitions { it =>
            if (!ResumeSpec.bucket1Started.await(60, TimeUnit.SECONDS))
              throw new IllegalStateException("bucket 0 ran alone")
            it
          }
      case 1 =>
        bucketInput(1).mapPartitions { it =>
          ResumeSpec.bucket1Started.countDown()
          it
        }
      case b => bucketInput(b)
    }
    val (ran, docs) = Job.runResumable(spark, store, B, gated, cfg)
    assert(ran == B && docs == N.toLong)

    (1 to B).foreach { id =>
      val snap = store.readSnapshot(id.toLong)
      assert(snap.buckets.map(_.bucket) == (0 until id), id)
      val added = snap.buckets.last
      val ids = spark.read.parquet(added.auditDir).as[AuditRow]
        .collect().map(_.snapshot_id).distinct.toSeq
      assert(ids == Seq(id.toLong), s"bucket ${added.bucket}")
    }
    assertGolden(store)
  }

  test("duplicate bucket commit is rejected") {
    val root = Files.createTempDirectory("graft-snap2").toString
    val store = new SnapshotStore(root)
    store.commit(0, s"$root/data/0-x", s"$root/audit/0-x", 1L)
    val ex = intercept[IllegalArgumentException] {
      store.commit(0, s"$root/data/0-y", s"$root/audit/0-y", 1L)
    }
    assert(ex.getMessage.contains("already committed"))
  }

  test("snapshot log is ordered and parents chain") {
    val root = Files.createTempDirectory("graft-snap3").toString
    val store = new SnapshotStore(root)
    store.commit(3, "d3", "a3", 10L)
    store.commit(1, "d1", "a1", 20L)
    val s = store.latest.get
    assert(s.snapshot_id == 2L && s.parent_id == 1L)
    assert(s.buckets.map(_.bucket) == Seq(3, 1))
    assert(store.dataPaths() == Seq("d3", "d1"))
  }

  test("schema evolution: added column reads as null on old buckets; " +
      "time travel sees the old schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap4").toString
    val store = new SnapshotStore(root)
    // bucket 0 committed under schema v1 (doc_id, a)
    val v1 = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "a")
    val (d0, a0) = store.newWriteDirs(0)
    v1.write.parquet(d0)
    v1.limit(0).write.parquet(a0)
    store.commit(0, d0, a0, 2L, v1.schema.json)
    // bucket 1 committed under schema v2 (adds column b)
    val v2 = Seq((3L, "z", 42)).toDF("doc_id", "a", "b")
    val (d1, a1) = store.newWriteDirs(1)
    v2.write.parquet(d1)
    v2.limit(0).write.parquet(a1)
    store.commit(1, d1, a1, 1L, v2.schema.json)

    // restart handle (schema comes from the commit log, not memory)
    val unified = Job.readData(spark, new SnapshotStore(root))
    assert(unified.columns.toSeq == Seq("doc_id", "a", "b"))
    val rows = unified.orderBy("doc_id").collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2)) // old bucket: null b
    assert(rows(2).getInt(2) == 42)

    // time travel: snapshot 1 predates column b
    val old = Job.readData(spark, store, snapshotId = Some(1L))
    assert(old.columns.toSeq == Seq("doc_id", "a"))
    assert(old.count() == 2)
  }

  test("type evolution: int->long widening in the same bucket conforms " +
      "reads to the tracked schema; time travel sees the int") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap6").toString
    val store = new SnapshotStore(root)
    // snapshot 1: bucket 0 with n tracked (and physically written) as INT
    val v1 = Seq((1L, 7), (2L, 8)).toDF("doc_id", "n")
    val (d0, a0) = store.newWriteDirs(0)
    v1.write.parquet(d0)
    v1.limit(0).write.parquet(a0)
    store.commit(0, d0, a0, 2L, v1.schema.json)
    // snapshot 2: a later writer declares the tracked schema widened to
    // LONG while every committed file stays physically int32 — logical
    // widening without a rewrite, the case Job.readData's read-side
    // cast exists for. (Writing the new bucket's files as int64 would
    // instead hit parquet mergeSchema's physical-type conflict — the
    // documented needs-a-rewrite case; bucket recommits are rejected by
    // the duplicate-partition guard.)
    val widened = StructType(Seq(StructField("doc_id", LongType),
      StructField("n", LongType)))
    val v2 = Seq((3L, 9)).toDF("doc_id", "n")
    val (d1, a1) = store.newWriteDirs(1)
    v2.write.parquet(d1)
    v2.limit(0).write.parquet(a1)
    store.commit(1, d1, a1, 1L, widened.json)

    val latest = Job.readData(spark, new SnapshotStore(root))
    assert(latest.schema("n").dataType == LongType,
      "read must conform to the tracked (widened) type, not the footer type")
    assert(latest.orderBy("doc_id").collect()
      .map(_.getLong(1)).toSeq == Seq(7L, 8L, 9L))

    val old = Job.readData(spark, store, snapshotId = Some(1L))
    assert(old.schema("n").dataType == IntegerType,
      "time travel must see the pre-widening schema")
    assert(old.orderBy("doc_id").collect()
      .map(_.getInt(1)).toSeq == Seq(7, 8))
  }

  test("torn newest snapshot: readers fall back to the previous commit") {
    val root = Files.createTempDirectory("graft-snap5").toString
    val store = new SnapshotStore(root)
    store.commit(0, "d0", "a0", 5L)
    // simulate a reader racing the no-hardlink two-step publish: the
    // newest snapshot file exists but is empty
    Files.write(java.nio.file.Paths.get(root, "snapshots",
      "snapshot-0000000002.json"), Array.empty[Byte])
    val s = new SnapshotStore(root).latest
    assert(s.isDefined && s.get.snapshot_id == 1L)
    assert(s.get.buckets.map(_.bucket) == Seq(0))
    // ...and a later COMMIT reclaims the dead writer's torn slot
    // instead of livelocking on FileAlreadyExists forever
    val s2 = new SnapshotStore(root)
    val committed = s2.commit(1, "d1", "a1", 3L)
    assert(committed.snapshot_id == 2L)
    assert(s2.latest.get.buckets.map(_.bucket) == Seq(0, 1))
    // the torn occupant was QUARANTINED (moved aside), never replaced:
    // a stalled original writer holding an fd into that inode finishes
    // writing into the quarantine file, not into the committed slot
    val snapFiles = Files.list(java.nio.file.Paths.get(root, "snapshots"))
    val names = try {
      import scala.jdk.CollectionConverters._
      snapFiles.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally snapFiles.close()
    assert(names.exists(_.startsWith(".torn-0000000002-")), names)
    // and the committed slot holds the RECLAIMER's snapshot
    assert(s2.readSnapshot(2L).buckets.map(_.bucket) == Seq(0, 1))
  }
}

object ResumeSpec {
  /** Released by the first task of bucket 1 in the overlap test (tasks
    * run in this JVM under the local master).
    */
  @volatile var bucket1Started: CountDownLatch = _
}
