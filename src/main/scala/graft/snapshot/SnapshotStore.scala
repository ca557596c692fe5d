package graft.snapshot

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style snapshot table layout (from scratch — no Iceberg
  * jar exists in the offline environment, SURVEY.md §7.2; the real
  * format's concepts are public: immutable data files + manifest +
  * atomic snapshot commit + time-travel by snapshot id).
  *
  * Layout:
  *   root/
  *     data/<bucket>-<writeId>/part-*.parquet   immutable bucket outputs
  *     audit/<bucket>-<writeId>/part-*.parquet  lineage+metrics rows
  *     snapshots/snapshot-%010d.json            commit log (atomic rename)
  *
  * A snapshot lists every committed bucket with its data/audit dirs.
  * Commit protocol (plain-FS safe):
  *   1. writer writes parquet into a fresh uuid-suffixed dir (never
  *      reused — idempotent retries just produce an orphan dir);
  *   2. snapshot JSON is written to a temp file and published as
  *      snapshots/snapshot-<n+1>.json via hard-link creation — an atomic
  *      compare-and-swap on POSIX (link() fails if the target exists, so
  *      the first writer wins and a loser re-reads and retries; a plain
  *      ATOMIC_MOVE would silently replace the winner's commit).
  * Resume = read latest snapshot, skip its committed buckets
  * (north_rule: "checkpoint/resume by committed snapshot so a killed
  * run restarts at the last completed partition set").
  *
  * graft.Job writes up to 4 buckets at once but calls `latest`,
  * `newWriteDirs` and `commit` only from its calling thread, and commits
  * in bucket order: the log of one Job run adds its buckets as an
  * in-order prefix, and a kill leaves at most 4 buckets' dirs as
  * orphans. The store itself stays safe for concurrent committers.
  *
  * The reference's analog is the per-file JSON result sink + batch meta
  * (use_api/batch_processor.py:130-162) — here hardened into an atomic,
  * resumable table commit.
  */
final case class BucketEntry(bucket: Int, dataDir: String, auditDir: String,
    docs: Long)

/** schema_json: Spark StructType JSON of the table as of this snapshot
  * (Iceberg-style schema tracking — the latest writer's schema wins and
  * older data files are reconciled at read time; null on snapshots from
  * writers that predate schema tracking).
  */
final case class Snapshot(snapshot_id: Long, parent_id: Long,
    buckets: Seq[BucketEntry], schema_json: String = null) {
  def committedBuckets: Set[Int] = buckets.map(_.bucket).toSet
}

class SnapshotStore(val root: String) {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def snapDir: Path = Paths.get(root, "snapshots")
  Files.createDirectories(snapDir)
  Files.createDirectories(Paths.get(root, "data"))
  Files.createDirectories(Paths.get(root, "audit"))

  private def snapPath(id: Long): Path =
    snapDir.resolve(f"snapshot-$id%010d.json")

  def latest: Option[Snapshot] = {
    val stream = Files.list(snapDir)
    val ids =
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toLong
        }.toSeq
      finally stream.close() // Files.list leaks an fd unless closed
    // The no-hardlink commit fallback publishes via CREATE_NEW + write
    // (two steps), so a reader racing that window can observe an empty
    // or truncated newest JSON. That is an in-flight commit, not
    // corruption: retry briefly, then fall back to the previous id
    // rather than crashing the reader (or a committer using latest()).
    ids.sorted(Ordering[Long].reverse).iterator
      .map(readValid).collectFirst { case Some(s) => s }
  }

  private def readValid(id: Long): Option[Snapshot] = {
    var attempt = 0
    while (attempt < 3) {
      try return Some(readSnapshot(id))
      catch {
        case _: Exception =>
          attempt += 1
          Thread.sleep(5L << attempt)
      }
    }
    None
  }

  def readSnapshot(id: Long): Snapshot =
    mapper.readValue(Files.readAllBytes(snapPath(id)), classOf[Snapshot])

  def committedBuckets: Set[Int] =
    latest.map(_.committedBuckets).getOrElse(Set.empty)

  /** Fresh write location for a bucket attempt (never reused). */
  def newWriteDirs(bucket: Int): (String, String) = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    (s"$root/data/$bucket-$id", s"$root/audit/$bucket-$id")
  }

  /** Atomically commit a bucket's written dirs as a new snapshot.
    * Retries on snapshot-id races (two writers committing different
    * buckets concurrently both succeed, in some order); committing an
    * already-committed bucket is rejected (duplicate-partition guard).
    */
  def commit(bucket: Int, dataDir: String, auditDir: String,
      docs: Long, schemaJson: String = null): Snapshot = {
    var attempts = 0
    // buckets recovered from a quarantined-but-actually-valid occupant
    // whose slot got re-taken before we could restore it (see the race
    // note below) — carried into our next snapshot so the displaced
    // writer's success return stays truthful
    var rescued = Seq.empty[BucketEntry]
    while (true) {
      attempts += 1
      val parent = latest
      val parentBuckets = parent.map(_.buckets).getOrElse(Seq.empty)
      val carried = parentBuckets ++
        rescued.filterNot(r => parentBuckets.exists(_.bucket == r.bucket))
      require(!carried.exists(_.bucket == bucket),
        s"bucket $bucket already committed — duplicate partition write")
      val next = Snapshot(
        parent.map(_.snapshot_id + 1).getOrElse(1L),
        parent.map(_.snapshot_id).getOrElse(0L),
        carried :+ BucketEntry(bucket, dataDir, auditDir, docs),
        // schema evolution: this writer's schema becomes the table
        // schema; absent that, the parent's schema carries forward
        if (schemaJson != null) schemaJson
        else parent.map(_.schema_json).orNull)
      val bytes = mapper.writeValueAsBytes(next)
      val tmp = Files.createTempFile(snapDir, ".tmp-snap", ".json")
      Files.write(tmp, bytes)
      // compare-and-swap via hard-link creation: atomic AND fails if the
      // target exists (ATOMIC_MOVE silently REPLACES an existing file on
      // Linux, which would lose a concurrent commit)
      try {
        try Files.createLink(snapPath(next.snapshot_id), tmp)
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException
              if !Files.exists(snapPath(next.snapshot_id)) =>
            // filesystems without hard links (FAT, some NFS/fuse):
            // CREATE_NEW is still create-exclusive, only the publish is
            // not single-syscall-atomic
            Files.write(snapPath(next.snapshot_id), bytes,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            // a concurrent committer may have judged the half-written
            // file torn and quarantined it mid-write; success is only
            // real if the occupant is OURS (a displaced writer keeps an
            // fd into the quarantined inode and would otherwise return
            // success for a snapshot someone else owns)
            val occupant =
              try Files.readAllBytes(snapPath(next.snapshot_id))
              catch { case _: Exception => Array.empty[Byte] }
            if (!java.util.Arrays.equals(occupant, bytes))
              throw new java.nio.file.FileAlreadyExistsException(
                snapPath(next.snapshot_id).toString)
        }
        Files.deleteIfExists(tmp)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race — OR a previous writer died mid-publish in
          // the no-hardlink two-step window, leaving a permanently torn
          // file at this id. A torn loser would brick every future
          // commit (latest() skips it, so the id gets recomputed
          // forever): if the occupant stays unreadable after retries,
          // move it aside to a unique quarantine name with a
          // NON-replacing atomic rename and retry the create-exclusive
          // publish — the CAS still picks exactly one winner (never
          // REPLACE the snapshot path: two committers that both judged
          // the occupant torn would otherwise both return success while
          // one bucket entry silently vanished).
          if (readValid(next.snapshot_id).isEmpty) {
            val quarantine = snapDir.resolve(
              f".torn-${next.snapshot_id}%010d-" +
                java.util.UUID.randomUUID().toString.take(8) + ".json")
            val moved =
              try {
                Files.move(snapPath(next.snapshot_id), quarantine,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                true
              } catch { case _: Exception => false } // someone else moved it
            // TOCTOU guard: the occupant may have FINISHED its two-step
            // publish between our readValid and the move (its writer
            // already returned success). If the quarantined bytes parse
            // as a valid snapshot, put them back create-exclusively; if
            // that slot was re-taken in the gap (needs a third racing
            // committer), carry the displaced snapshot's buckets into
            // our own next commit instead — no success return is ever
            // silently voided.
            if (moved) {
              val occupant =
                try Some(mapper.readValue(Files.readAllBytes(quarantine),
                  classOf[Snapshot]))
                catch { case _: Exception => None } // genuinely torn
              occupant.foreach { snap =>
                val restored =
                  try { Files.createLink(snapPath(next.snapshot_id), quarantine); true }
                  catch { case _: Exception => false }
                if (!restored)
                  rescued = (rescued ++ snap.buckets)
                    .groupBy(_.bucket).values.map(_.head).toSeq
              }
            }
          }
          Files.deleteIfExists(tmp)
          if (attempts > 100) sys.error("snapshot commit livelock")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Paths of committed data dirs at the latest (or given) snapshot —
    * feed to spark.read.parquet. Empty when no snapshot exists.
    */
  def dataPaths(snapshotId: Option[Long] = None): Seq[String] = {
    val snap = snapshotId.map(readSnapshot).orElse(latest)
    snap.map(_.buckets.map(_.dataDir)).getOrElse(Seq.empty)
  }

  def auditPaths(snapshotId: Option[Long] = None): Seq[String] = {
    val snap = snapshotId.map(readSnapshot).orElse(latest)
    snap.map(_.buckets.map(_.auditDir)).getOrElse(Seq.empty)
  }

  /** Table schema (StructType JSON) as of a snapshot, if tracked. */
  def schemaAt(snapshotId: Option[Long] = None): Option[String] = {
    val snap = snapshotId.map(readSnapshot).orElse(latest)
    snap.flatMap(s => Option(s.schema_json))
  }
}
