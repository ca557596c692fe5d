package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (array<float>).
  *
  * Design for 10^9+ vectors:
  *   - All per-vector math (cosine, hyperplane buckets) runs in plain
  *     Scala kernels inside typed mapPartitions: Spark's array HOFs are
  *     interpreted, not codegen'd, and re-evaluate per element (measured
  *     10x+ slower on this exact workload — see Dedup's MinHash note).
  *   - Top-k is TWO-PHASE: each input partition keeps a bounded
  *     (score, id) heap per query and emits at most |queries| * k rows,
  *     so the only exchange moves <= partitions * |queries| * k rows —
  *     never the scored corpus. A single window over the full cross
  *     score would funnel 10^9 rows into <= |queries| partitions.
  *   - LSH buckets corpus-side are computed in the same scan (one
  *     pass). For top-k, queries + their probe buckets are broadcast, so
  *     the corpus is never shuffled. For near-dups, each (table, bucket)
  *     row is shuffled once with its vector to its bucket group, and
  *     pairs are scored inside the group: no pair relation, no vector
  *     join.
  *   - Hyperplane components come from the SplitMix64 finalizer of the
  *     packed (plane, dim) index — integer-only, so an external SQL
  *     engine can replicate buckets EXACTLY (the DuckDB oracles for
  *     s2/s3 do; that is the point of not using scala MurmurHash here).
  *   - Near-dup blocking is banded multi-table LSH (`tables` x `planes`
  *     sign bits): recall for pairs at cosine c is
  *     1 - (1 - p^planes)^tables with p = 1 - acos(c)/pi, so tables is
  *     the recall lever and planes the cost lever. Oversized buckets
  *     (dense hubs) are re-split by extension planes when maxBucket > 0.
  */
object Similarity {

  // ------------------------------------------------------------- kernels

  /** Deterministic hyperplane component for (plane p, dimension i):
    * the SplitMix64 finalizer (Steele et al., OOPSLA 2014 — public
    * constants) of the packed index, scaled to [-1, 1). An LCG over
    * consecutive seeds is linear in the seed and its "hyperplanes" form
    * a correlated lattice (measured: real recall far below the
    * independent-plane formula); the multiply-xorshift mixer breaks
    * that. Integer ops are mod-2^64 exact and the final division by
    * 2^52 is a power of two, so any engine with 64-bit integer
    * semantics reproduces every component bit for bit (the DuckDB
    * oracle does, via HUGEINT split-multiplication).
    */
  def planeComponent(p: Int, i: Int): Double = {
    val z = graft.data.CorpusGen.mix64(
      (p.toLong << 32) + i.toLong + 0x9E3779B97F4A7C15L)
    (z >>> 11).toDouble / 4503599627370496.0 - 1.0
  }

  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)(planeComponent)

  /** Raw cosine, strict left-to-right accumulation (matches both the
    * previous HOF implementation and DuckDB's list_dot_product order,
    * keeping scores bit-identical across engines).
    */
  def rawCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** HALF_UP rounding with Spark round() semantics (BigDecimal over the
    * shortest decimal representation). Non-finite values pass through.
    */
  def round6(v: Double): Double =
    if (java.lang.Double.isFinite(v))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else v

  def roundedCosine(a: Array[Float], b: Array[Float]): Double =
    round6(rawCosine(a, b))

  /** Sign-pattern bucket of `k` hyperplanes starting at matrix row
    * `off`; bit p set iff dot(v, plane off+p) >= 0.
    */
  def bucketOf(v: Array[Float], mat: Array[Array[Double]],
      off: Int, k: Int): Long = {
    var b = 0L; var p = 0
    while (p < k) {
      val row = mat(off + p)
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i).toDouble * row(i); i += 1 }
      if (dot >= 0) b |= (1L << p)
      p += 1
    }
    b
  }

  /** Bounded top-k heap: keeps the k best by (score desc, id asc).
    * Double.compare puts NaN above all reals — the same total order
    * Spark's `desc` uses, so zero-norm vectors rank identically to the
    * window-based implementation.
    */
  private final class TopKHeap[I](k: Int)(implicit ord: Ordering[I]) {
    // worst-first queue: head = lowest score, ties broken by LARGER id
    private val pq = new java.util.PriorityQueue[(Double, I)](k + 1,
      (x: (Double, I), y: (Double, I)) => {
        val c = java.lang.Double.compare(x._1, y._1)
        if (c != 0) c else ord.compare(y._2, x._2)
      })
    def offer(score: Double, id: I): Unit =
      if (pq.size < k) { pq.add((score, id)); () }
      else {
        val w = pq.peek()
        val c = java.lang.Double.compare(score, w._1)
        if (c > 0 || (c == 0 && ord.compare(id, w._2) < 0)) {
          pq.poll(); pq.add((score, id)); ()
        }
      }
    def drain: Iterator[(Double, I)] = {
      val out = new Array[Any](pq.size)
      var i = 0
      val it = pq.iterator()
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out.iterator.map(_.asInstanceOf[(Double, I)])
    }
  }

  // ------------------------------------------------- Column-level helpers

  /** Cosine similarity as a Column (interop/API completeness — the
    * operators below use the JIT kernel instead; array HOFs are
    * interpreted and belong off the hot path).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), _ + _)
    val na = aggregate(a, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double"))
    val nb = aggregate(b, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double"))
    dot / (sqrt(na) * sqrt(nb))
  }

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double")))

  /** Code-point order == UTF-8 binary order == Spark's UTF8String
    * order. java.lang.String's natural UTF-16 order differs for
    * supplementary characters (surrogates sort below U+E000..U+FFFF),
    * which would let per-partition heap pruning evict a row the merge
    * window's Spark ordering would keep.
    */
  val Utf8Ordering: Ordering[String] = (a: String, b: String) => {
    var i = 0; var j = 0
    var r = 0
    while (r == 0 && i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      r = Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    if (r != 0) r else Integer.compare(a.length - i, b.length - j)
  }

  /** Per-partition plane-matrix cache keyed by vector dimension:
    * ragged-dimension inputs get consistent matrices everywhere
    * (planeComponent is a pure function of the indices), instead of
    * whatever the partition's FIRST vector dictated.
    */
  private final class MatCache(planes: Int) {
    private val m =
      scala.collection.mutable.HashMap.empty[Int, Array[Array[Double]]]
    def get(dim: Int): Array[Array[Double]] =
      m.getOrElseUpdate(dim, planeMatrix(planes, dim))
  }

  // ------------------------------------------------------------ operators

  private def sqlNameOf(idType: DataType): String = idType match {
    case LongType | IntegerType | ShortType | ByteType => "long"
    case StringType => "string"
    case other => throw new IllegalArgumentException(
      s"unsupported id type for similarity ops: $other")
  }

  /** Per-partition bounded top-k over (query_id, qv, vec_id, v) pairs,
    * then a final merge window over <= partitions * |queries| * k rows.
    */
  private def partialTopK[I](ds: Dataset[(I, Array[Float], I, Array[Float])],
      k: Int)(implicit ord: Ordering[I],
      enc: Encoder[(I, I, Double)]): Dataset[(I, I, Double)] =
    ds.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap.empty[I, TopKHeap[I]]
      it.foreach { case (qid, qv, vid, v) =>
        heaps.getOrElseUpdate(qid, new TopKHeap[I](k))
          .offer(roundedCosine(qv, v), vid)
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.drain.map { case (s, vid) => (qid, vid, s) }
      }
    }

  private def finalizeTopK(partial: DataFrame, idType: DataType,
      k: Int): DataFrame = {
    // the window input is bounded by partitions * |queries| * k — this
    // is the tiny merge, not a corpus-wide shuffle
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    partial.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id").cast(idType).as("query_id"),
        col("vec_id").cast(idType).as("vec_id"), col("score"), col("rk"))
  }

  /** Brute-force cosine top-k: exact; one corpus scan, queries broadcast
    * (query set must be small by contract), per-partition heaps, tiny
    * merge. No corpus-sized shuffle anywhere.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val idType = corpus.schema(idCol).dataType
    val idSql = sqlNameOf(idType)
    val q = broadcast(queries.select(
      col(idCol).cast(idSql).as("query_id"), col(vecCol).as("qv")))
    val pairs = corpus.select(
        col(idCol).cast(idSql).as("vec_id"), col(vecCol).as("v"))
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("v"))
    val partial = idType match {
      case StringType =>
        implicit val ord: Ordering[String] = Utf8Ordering
        partialTopK[String](
          pairs.as[(String, Array[Float], String, Array[Float])], k)
          .toDF("query_id", "vec_id", "score")
      case _ => partialTopK[Long](
        pairs.as[(Long, Array[Float], Long, Array[Float])], k)
        .toDF("query_id", "vec_id", "score")
    }
    finalizeTopK(partial, idType, k)
  }

  /** LSH-bucketed approximate top-k with multi-probe: every corpus
    * vector gets a `planes`-bit sign bucket in the scan (kernel, one
    * pass); each query probes its own bucket plus all hamming-1 buckets.
    * The probe table (|queries| * (planes+1) rows) is broadcast, so the
    * candidate join never shuffles the corpus; candidates then flow
    * through the same two-phase top-k.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, planes: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val idType = corpus.schema(idCol).dataType
    val idSql = sqlNameOf(idType)

    def run[I](implicit ord: Ordering[I],
        e1: Encoder[(I, Array[Float])],
        e2: Encoder[(I, Array[Float], Long)],
        e3: Encoder[(I, I, Double)],
        e4: Encoder[(I, Array[Float], I, Array[Float])]): DataFrame = {
      val cb = corpus
        .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
        .as[(I, Array[Float])]
        .mapPartitions { it =>
          val mats = new MatCache(planes)
          it.map { case (id, v) =>
            (id, v, bucketOf(v, mats.get(v.length), 0, planes))
          }
        }.toDF("vec_id", "v", "bucket")
      val qp = broadcast(queries
        .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
        .as[(I, Array[Float])]
        .mapPartitions { it =>
          val mats = new MatCache(planes)
          it.flatMap { case (id, v) =>
            val qb = bucketOf(v, mats.get(v.length), 0, planes)
            (qb +: Seq.tabulate(planes)(p => qb ^ (1L << p)))
              .iterator.map(b => (id, v, b))
          }
        }.toDF("query_id", "qv", "bucket"))
      val pairs = cb.join(qp, "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qv"), col("vec_id"), col("v"))
      finalizeTopK(partialTopK[I](
          pairs.as[(I, Array[Float], I, Array[Float])], k)
        .toDF("query_id", "vec_id", "score"), idType, k)
    }

    idType match {
      case StringType =>
        implicit val ord: Ordering[String] = Utf8Ordering
        run[String]
      case _ => run[Long]
    }
  }

  /** Nearest-centroid assignment: strict > keeps the FIRST (lowest
    * index) among ties, and Double.compare puts NaN above reals — both
    * match the IVF oracle's ORDER BY cos DESC, cid.
    */
  def ivfNearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestScore = rawCosine(v, cents(0))
    var i = 1
    while (i < cents.length) {
      val s = rawCosine(v, cents(i))
      if (java.lang.Double.compare(s, bestScore) > 0) { best = i; bestScore = s }
      i += 1
    }
    best
  }

  /** The query's nprobe nearest cells, (cos desc, index asc) order. */
  def ivfProbes(cents: Array[Array[Float]], v: Array[Float],
      nprobe: Int): Array[Int] =
    cents.indices.map(i => (rawCosine(v, cents(i)), i))
      .sortWith { case ((sa, ia), (sb, ib)) =>
        val c = java.lang.Double.compare(sa, sb) // NaN above reals,
        if (c != 0) c > 0 else ia < ib           // like the SQL DESC
      }
      .take(nprobe).map(_._2).toArray

  /** IVF-Flat approximate top-k (Faiss-style inverted-file ANN, the
    * coarse-quantizer alternative to LSH): the corpus is partitioned
    * into `cells` by nearest centroid, each query probes its `nprobe`
    * nearest cells, and candidates go through the same two-phase exact
    * top-k as the other ANN paths.
    *
    * The coarse quantizer is DETERMINISTIC: the `cells` lowest-id
    * vectors are the centroids (a fixed sample — k-means would converge
    * data-dependently and be unverifiable cross-engine; cell/probe
    * mechanics are identical). Centroids are a bounded MODEL artifact,
    * like the LSH plane matrices: collected once (explicitly capped,
    * never corpus-sized) and shipped in the task closure, so assignment
    * is a single corpus scan with zero joins — the way a trained IVF
    * index ships its centroid table to workers.
    *
    * Ties everywhere break toward the lower centroid index / id, so an
    * external SQL engine reproduces cells, probes, and ranks exactly
    * (the s4 oracle replays the whole path in DuckDB).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, cells: Int, nprobe: Int): DataFrame = {
    require(cells >= 1 && cells <= 65536,
      s"cells must be in [1, 65536] (got $cells) — centroids ship in the closure")
    require(nprobe >= 1 && nprobe <= cells, s"nprobe must be in [1, $cells]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val idType = corpus.schema(idCol).dataType
    val idSql = sqlNameOf(idType)
    val cents: Array[Array[Float]] = corpus
      .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(cells)
      .select(col("v")).as[Array[Float]].collect()
    val np = nprobe

    def run[I](implicit ord: Ordering[I],
        e1: Encoder[(I, Array[Float])],
        e2: Encoder[(I, Array[Float], Int)],
        e3: Encoder[(I, I, Double)],
        e4: Encoder[(I, Array[Float], I, Array[Float])]): DataFrame = {
      val assigned = corpus
        .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
        .as[(I, Array[Float])]
        .mapPartitions(_.map { case (id, v) => (id, v, ivfNearest(cents, v)) })
        .toDF("vec_id", "v", "cell")
      val qp = broadcast(queries
        .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
        .as[(I, Array[Float])]
        .mapPartitions(_.flatMap { case (id, v) =>
          ivfProbes(cents, v, np).iterator.map(c => (id, v, c))
        }).toDF("query_id", "qv", "cell"))
      val pairs = assigned.join(qp, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qv"), col("vec_id"), col("v"))
      finalizeTopK(partialTopK[I](
          pairs.as[(I, Array[Float], I, Array[Float])], k)
        .toDF("query_id", "vec_id", "score"), idType, k)
    }

    idType match {
      case StringType =>
        implicit val ord: Ordering[String] = Utf8Ordering
        run[String]
      case _ => run[Long]
    }
  }

  /** Near-dup blocking is `tables` independent `planes`-bit bucketings;
    * a pair is a candidate if it collides in ANY table.
    *
    * maxBucket > 0 bounds per-bucket pair blowup on dense hubs: buckets
    * larger than maxBucket are re-split by ceil(log2(n/maxBucket))
    * extension-plane bits (up to 16), computed in the same scan — the
    * deterministic equivalent of AQE's skew split for self-joins.
    */
  private val ExtPlanes = 16

  /** Tracked multi-consumer materialization — Similarity's bucket
    * tables ride [[Dedup.caches]] (same sequential caller contract;
    * the bench/verify harnesses release exactly that registry between
    * queries, so a second object-level registry here would leak
    * persisted blocks across a 50-query session).
    */
  private def materialize(df: DataFrame): DataFrame =
    Dedup.caches.materialize(df)

  /** Blocking planes sized so the EXPECTED bucket holds ~targetBucket
    * vectors: 2^planes buckets per table over n rows. Callers read n
    * from table stats (graft.sources.TableStats / Iceberg snapshot
    * summary), never from a count() job. The floor of 2 keeps tiny
    * corpora in the recall-saturated regime (see s3's derivation).
    */
  def sizePlanes(n: Long, targetBucket: Int): Int =
    math.max(2,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** Banded bucket assignment (id, tbl, bucket) for multi-table LSH,
    * with optional skew defense: when maxBucket > 0, buckets larger
    * than maxBucket are re-split by ceil(log2(n/maxBucket)) extension
    * plane bits (computed in the same scan — only the small oversize
    * list is broadcast back). Ids are normalized to long/string.
    */
  def bandedBuckets(corpus: DataFrame, vecCol: String, idCol: String,
      planes: Int, tables: Int, maxBucket: Int = 0): DataFrame =
    bandedRows(corpus, vecCol, idCol, planes, tables, maxBucket,
      withVec = false).select("id", "tbl", "bucket")

  /** [[bandedBuckets]] as (id, tbl, bucket, v): the row's vector rides
    * along from the kernel scan when `withVec` (null otherwise), so the
    * near-dup verification needs no vector join.
    */
  private def bandedRows(corpus: DataFrame, vecCol: String, idCol: String,
      planes: Int, tables: Int, maxBucket: Int, withVec: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the re-split shard id packs (depth tag << 56) | (bucket << depth)
    // | ext bits, so bucket + max depth must fit below the tag byte —
    // fail loudly instead of silently colliding shard ids (which would
    // merge candidate groups and recreate the blowup the cap bounds)
    require(planes >= 1 && planes + ExtPlanes <= 56,
      s"planes must be in [1, ${56 - ExtPlanes}] (got $planes): the " +
        "re-split shard encoding needs planes + depth <= 56 bits")
    require(tables >= 1, s"tables must be >= 1 (got $tables)")
    val idSql = sqlNameOf(corpus.schema(idCol).dataType)

    def run[I](implicit e1: Encoder[(I, Array[Float])],
        e2: Encoder[(I, Int, Long, Long, Array[Float])]): DataFrame = {
      val banded = corpus
        .select(col(idCol).cast(idSql).as("id"), col(vecCol).as("v"))
        .as[(I, Array[Float])]
        .mapPartitions { it =>
          val mats = new MatCache(tables * planes + ExtPlanes)
          it.flatMap { case (id, v) =>
            val mat = mats.get(v.length)
            val ext = bucketOf(v, mat, tables * planes, ExtPlanes)
            val carried = if (withVec) v else null
            (0 until tables).iterator.map(t =>
              (id, t, bucketOf(v, mat, t * planes, planes), ext, carried))
          }
        }.toDF("id", "tbl", "bucket", "ext", "v")
      if (maxBucket <= 0) banded.select("id", "tbl", "bucket", "v")
      else {
        // materialized: the banded kernel scan feeds the oversize
        // aggregate AND the re-split join below — without the cache the
        // r06 before-plan ran the corpus kernel scan twice here
        val bandedM = materialize(banded)
        val over = broadcast(
          bandedM.groupBy(col("tbl"), col("bucket"))
            .agg(count(lit(1)).as("n"))
            .filter(col("n") > maxBucket)
            .select(col("tbl"), col("bucket"),
              least(ceil(log2(col("n").cast("double") / maxBucket)),
                lit(ExtPlanes)).cast("int").as("depth")))
        // the depth tag in the high byte keeps re-split shard ids
        // disjoint from every untouched bucket's id in the same table
        // (without it, shard (bucket<<d)|ext can collide with an intact
        // bucket's id and silently merge the two candidate groups,
        // recreating the pair blowup the cap exists to bound); requires
        // planes + depth <= 56, which ExtPlanes=16 and sane plane
        // counts satisfy
        bandedM.join(over, Seq("tbl", "bucket"), "left")
          .withColumn("bucket", when(col("depth").isNull, col("bucket"))
            .otherwise(expr(
              "shiftleft(cast(depth AS bigint), 56) | " +
                "shiftleft(bucket, depth) | (ext & (shiftleft(1L, depth) - 1L))")))
          .select("id", "tbl", "bucket", "v")
      }
    }

    corpus.schema(idCol).dataType match {
      case StringType => run[String]
      case _ => run[Long]
    }
  }

  /** Streams the member pairs of each (tbl, bucket) group of a partition
    * sorted by (tbl, bucket). One group's members are buffered at a
    * time and its pairs are produced lazily, so a task holds one group
    * (bounded by maxBucket when the re-split is on), never the group's
    * pair output. Each pair of distinct non-null ids comes out once per
    * group as (lower id, higher id, score(lower's payload, higher's
    * payload)) when `keep(score)`; members sharing an id and null ids
    * are skipped, as the `a.id < b.id` predicate of a bucket self-join
    * would skip them.
    */
  private final class BucketPairs[I, P](rows: Iterator[(I, Int, Long, P)],
      score: (P, P) => Double, keep: Double => Boolean)(
      implicit ord: Ordering[I]) extends Iterator[(I, I, Double)] {
    private val in = rows.buffered
    private val ids = scala.collection.mutable.ArrayBuffer.empty[I]
    private val ps = scala.collection.mutable.ArrayBuffer.empty[P]
    // the next pair to try is (i, j), i < j
    private var i = 0
    private var j = 1
    private var pending: (I, I, Double) = null

    /** Buffers the next group; false once the partition is exhausted. */
    private def nextGroup(): Boolean = {
      ids.clear(); ps.clear(); i = 0; j = 1
      if (!in.hasNext) false
      else {
        val (_, tbl, bucket, _) = in.head
        while (in.hasNext && in.head._2 == tbl && in.head._3 == bucket) {
          val (id, _, _, p) = in.next()
          if (id != null) { ids += id; ps += p }
        }
        true
      }
    }

    private def advance(): Unit =
      while (pending == null && (i < ids.length - 1 || nextGroup())) {
        if (j < ids.length) {
          val c = ord.compare(ids(i), ids(j))
          if (c != 0) {
            val (lo, hi) = if (c < 0) (i, j) else (j, i)
            val s = score(ps(lo), ps(hi))
            if (keep(s)) pending = (ids(lo), ids(hi), s)
          }
          j += 1
        } else { i += 1; j = i + 1 }
      }

    override def hasNext: Boolean = {
      if (pending == null) advance()
      pending != null
    }

    override def next(): (I, I, Double) = {
      if (!hasNext) throw new NoSuchElementException("no more bucket pairs")
      val out = pending
      pending = null
      out
    }
  }

  /** The banded buckets of [[bandedBuckets]] sent to their (tbl, bucket)
    * group, sorted by group within each partition, as (id, tbl, bucket,
    * v) when `withVec` (v null otherwise) — the input of [[BucketPairs]].
    */
  private def bucketGroups(corpus: DataFrame, vecCol: String, idCol: String,
      planes: Int, tables: Int, maxBucket: Int, withVec: Boolean): DataFrame = {
    // an explicit partition count: the pair work grows with the square
    // of a group's size, not with its bytes, and AQE would coalesce the
    // few MB of bucket rows into fewer tasks than there are cores
    val parts = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    bandedRows(corpus, vecCol, idCol, planes, tables, maxBucket, withVec)
      .repartition(parts, col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"))
  }

  /** Distinct candidate id pairs (id_a < id_b): every pair of ids that
    * share a (tbl, bucket) group of the banded buckets in any table.
    * cosineNearDups scores the same pairs inside their groups and never
    * builds this relation; it is exposed so tests and capacity planning
    * can measure candidate volume under a maxBucket cap. Only ids ride
    * the group exchange here; the raw per-group pairs (one per
    * agreeing table) go through one dedup exchange.
    */
  def candidatePairs(corpus: DataFrame, vecCol: String, idCol: String,
      planes: Int, tables: Int, maxBucket: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val groups = bucketGroups(corpus, vecCol, idCol, planes, tables,
      maxBucket, withVec = false).select("id", "tbl", "bucket")

    def run[I](implicit ord: Ordering[I], e1: Encoder[(I, Int, Long)],
        e2: Encoder[(I, I)]): DataFrame =
      groups.as[(I, Int, Long)]
        .mapPartitions { it =>
          new BucketPairs[I, Null](it.map { case (id, t, b) => (id, t, b, null) },
            (_, _) => 0.0, _ => true).map { case (a, b, _) => (a, b) }
        }
        .toDF("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")

    corpus.schema(idCol).dataType match {
      case StringType =>
        implicit val ord: Ordering[String] = Utf8Ordering
        run[String]
      case _ => run[Long]
    }
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, rounded score
    * >= minCos) via banded multi-table LSH, verified where the pair's
    * members meet: each banded-bucket row travels once, with its
    * vector, to its (tbl, bucket) group, and one kernel scores every
    * member pair of the group there. No candidate-pair relation is
    * built and no vector is joined back; only verified pairs (at most
    * `tables` rows per result pair) reach the final dedup exchange.
    *
    * Contracts:
    *   - `idCol` must be unique. With duplicate ids the dedup keeps one
    *     score per id pair, whichever vectors produced it.
    *   - Memory: a task buffers one (tbl, bucket) group's members and
    *     streams its pairs. maxBucket > 0 bounds a group to about
    *     maxBucket members (the re-split); with maxBucket = 0 a dense
    *     hub's bucket is buffered whole.
    */
  def cosineNearDups(corpus: DataFrame, vecCol: String, idCol: String,
      minCos: Double, planes: Int = 8, tables: Int = 8,
      maxBucket: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val idType = corpus.schema(idCol).dataType
    val groups = bucketGroups(corpus, vecCol, idCol, planes, tables,
      maxBucket, withVec = true)
    // roundedCosine, whose decimal rounding moves a score by at most
    // 5e-7: a raw cosine more than 1e-6 below minCos cannot round up to
    // it, so such a pair (nearly every candidate) skips the rounding
    val floor = minCos - 1e-6
    val score: (Array[Float], Array[Float]) => Double = (a, b) => {
      val raw = rawCosine(a, b)
      if (raw < floor) raw else round6(raw)
    }

    def verify[I](implicit ord: Ordering[I],
        e1: Encoder[(I, Int, Long, Array[Float])],
        e2: Encoder[(I, I, Double)]): DataFrame =
      groups.as[(I, Int, Long, Array[Float])]
        .mapPartitions(it =>
          new BucketPairs[I, Array[Float]](it, score, _ >= minCos))
        .toDF("id_a", "id_b", "score")
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a").cast(idType).as("id_a"),
          col("id_b").cast(idType).as("id_b"), col("score"))

    idType match {
      case StringType =>
        implicit val ord: Ordering[String] = Utf8Ordering
        verify[String]
      case _ => verify[Long]
    }
  }

  /** SQ8 scalar quantization (the Faiss ScalarQuantizer QT_8bit scheme,
    * public): per-dimension corpus [min, max], each component mapped to
    * code = round((x - min) * 255 / (max - min)) in [0, 255] — 4x
    * smaller vectors for ANN shortlist scans, with the per-vector
    * squared reconstruction error reported so a pipeline can gate on
    * quantization loss before swapping the fp32 column out. Returns
    * (idCol, codes — comma-joined for engine-portable comparison,
    * sq_err).
    *
    * A constant dimension (max == min) carries zero information: code 0,
    * dequantizes to min, zero error.
    *
    * 100-TB shape: the stats pass is one posexplode + groupBy(pos) —
    * map-side-combinable, `dim` result rows — collapsed to ONE row and
    * broadcast back; the encode pass is then a pure narrow transform
    * per vector (no per-vector shuffle, no collect — the stats row
    * rides the broadcast, Faiss-style "train then encode" as two scans).
    * Squared-error terms are decimal-summed inside the row's aggregate
    * HOF, so the fold is exact and engine-order-free.
    *
    * Nulls propagate as in the SQL form: a null vector gives null codes
    * and sq_err. A null element nulls the vector's sq_err. It adds no
    * code when its dimension has a range (its code is null, and
    * array_join skips nulls), and code 0 otherwise.
    */
  def sq8Quantize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idType = df.schema(idCol).dataType
    val v = col(vecCol).cast("array<double>")
    val stats = df.select(posexplode(v).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("stats"))
      // two plain double arrays (pos-ordered) — the single stats row a
      // JIT kernel can read without per-element struct getters
      .select(transform(col("stats"), s => s.getField("mn")).as("mns"),
        transform(col("stats"), s => s.getField("mx")).as("mxs"))
    // encode pass as a JIT Scala kernel (house rule: per-row numeric
    // kernels run in typed mapPartitions — the previous interpreted
    // transform/aggregate HOF chain re-evaluated a struct expression
    // tree with decimal casts per vector component). Semantics are the
    // exact Catalyst ones, step by step: round(x, 0) = HALF_UP over the
    // shortest decimal representation (sq8Code), decimal(30,10)
    // accumulation = each term setScale(10, HALF_UP) then exact decimal
    // addition (the fold is order-free), final cast-to-double + round 6.
    df.crossJoin(broadcast(stats))
      .select(col(idCol).cast("string").as("id"), v.as("v"),
        col("mns"), col("mxs"))
      // boxed elements: a null element (or an all-null dimension's null
      // stats) must reach the kernel, not fail the deserializer
      .as[(String, Seq[java.lang.Double], Seq[java.lang.Double],
        Seq[java.lang.Double])]
      .mapPartitions(_.map { case (id, vec, mns, mxs) =>
        if (vec == null) (id, None: Option[String], None: Option[Double])
        else {
          val sb = new java.lang.StringBuilder
          def appendCode(code: Int): Unit = {
            if (sb.length > 0) sb.append(',')
            sb.append(code)
          }
          // null once any element is null, as the SQL decimal sum is
          var acc = java.math.BigDecimal.ZERO
          var i = 0
          while (i < vec.length) {
            val x = vec(i); val mn = mns(i); val mx = mxs(i)
            val ranged = mn != null && mx != null &&
              mx.doubleValue > mn.doubleValue
            if (x == null) {
              acc = null
              if (!ranged) appendCode(0)
            } else {
              val code = if (ranged) sq8Code(x, mn, mx) else 0
              val dq = if (ranged) mn + code.toDouble * (mx - mn) / 255.0
                else mn.doubleValue
              val se = (x - dq) * (x - dq)
              appendCode(code)
              if (acc != null) acc = acc.add(java.math.BigDecimal.valueOf(se)
                .setScale(10, java.math.RoundingMode.HALF_UP))
            }
            i += 1
          }
          (id, Some(sb.toString), Option(acc).map(a => round6(a.doubleValue)))
        }
      })
      .toDF("id", "codes", "sq_err")
      .select(col("id").cast(idType).as(idCol), col("codes"), col("sq_err"))
  }

  /** round((x - mn) * 255 / (mx - mn)) cast int, exactly as Catalyst
    * evaluates it: Round(double, 0) is HALF_UP over the shortest
    * decimal representation (non-finite values pass through, like
    * Spark's RoundBase), then the double-to-int cast truncates.
    */
  private def sq8Code(x: Double, mn: Double, mx: Double): Int = {
    val r = (x - mn) * 255.0 / (mx - mn)
    if (java.lang.Double.isFinite(r))
      BigDecimal(r).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toDouble.toInt
    else r.toInt
  }
}
