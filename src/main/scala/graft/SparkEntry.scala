package graft

import graft.data.CorpusGen
import graft.functions.TextFunctions
import graft.operators.{Bloom, Corpus, Dedup, Media, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): `queries` = one entry per operator
  * family from SURVEY.md §2 + the training-data-pipeline operators;
  * `oracleSql` = DuckDB-equivalent SQL over the same parquet tables for
  * every SQL-expressible query.
  *
  * Determinism discipline (driver compares row/schema/value hashes):
  *   - every query and oracle ends in an explicit ORDER BY;
  *   - double aggregations go through exact DECIMAL sums first, then one
  *     final cast+round — both engines produce bit-identical doubles;
  *   - all computed columns are aliased identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal sum of a double column, emitted as rounded double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast("decimal(20,4)")).cast("double"), scale)

  /** w1's training-mix weights per lang — upsample en, keep fr,
    * downsample de/es, drop zh. One constant feeds both the Spark
    * query and the generated oracle SQL so the two can never drift.
    */
  private[graft] val MixWeights: Seq[(String, Double)] = Seq(
    "en" -> 1.5, "de" -> 0.6, "fr" -> 1.0, "es" -> 0.25, "zh" -> 0.0)

  /** w2's held-out split fractions — one constant feeds both the Spark
    * plan and the generated oracle SQL's integer thresholds.
    */
  private[graft] val SplitFracs: Seq[(String, Double)] = Seq(
    "train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** d8's n-gram width (Lee et al. use 50 BPE tokens; 8 whitespace
    * tokens is the same idea scaled to this corpus's ~30-token docs).
    * One constant feeds the query and the oracle SQL.
    */
  private[graft] val D8Gram = 8

  /** Shared fixture for the pipeline queries (p1/p2/p3): the 300-doc
    * generated corpus run through extraction.
    */
  private def extracted300(s: SparkSession): DataFrame = {
    import s.implicits._
    val docs = s.range(0, 300).mapPartitions(_.map(i =>
      CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input))
    Pipeline.extract(docs, graft.model.ExtractConfig(partitions = 8)).toDF()
  }

  /** Flagship: full extraction pipeline over a generated interleaved
    * corpus (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = spark.range(0, 200).mapPartitions(_.map(i =>
      CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input))
    Pipeline.extract(docs, graft.model.ExtractConfig(partitions = 8))
      .toDF().orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------- relational core
    "q1_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          round(sum($"l_extendedprice".cast("decimal(20,4)") *
            (lit(1) - $"l_discount".cast("decimal(10,4)")))
            .cast("double"), 2).as("sum_disc_price"),
          round(sum($"l_discount".cast("decimal(10,4)")).cast("double") /
            count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    "q2_filter_pushdown" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-06-01").cast("timestamp") &&
          $"l_quantity" > 45)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    "q3_revenue_by_nation" -> ((s, dir) => {
      import s.implicits._
      // pre-aggregate revenue per ORDER before the join chain: the fact
      // join shrinks from lineitems to orders (~4x here, more at scale),
      // and countDistinct's two-pass Expand becomes a plain count —
      // decimal sums are exactly associative, so regrouping cannot
      // perturb the rounded double the oracle checks
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val rev = li.groupBy($"l_orderkey")
        .agg(sum($"l_extendedprice".cast("decimal(20,4)") *
          (lit(1) - $"l_discount".cast("decimal(10,4)"))).as("orev"))
      rev.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          round(sum($"orev").cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_orders")) // one row per order post-agg
        .orderBy($"r_name", $"n_name")
    }),

    "q4_topk_orders" -> ((s, dir) => {
      import s.implicits._
      val rev = t(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(round(sum($"l_extendedprice".cast("decimal(20,4)") *
          (lit(1) - $"l_discount".cast("decimal(10,4)")))
          .cast("double"), 2).as("revenue"))
      rev.join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey".as("orderkey"), $"o_orderpriority", $"revenue")
        .orderBy($"revenue".desc, $"orderkey")
        .limit(10)
    }),

    "q5_window_top3" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // a window partitioned by l_returnflag funnels the whole fact
      // table into as many tasks as there are flags (3) — a scale-killer
      // at 100x. Per-partition bounded heaps prune map-side to
      // <= partitions * flags * 3 rows; the window then ranks the tiny
      // survivor set exactly (same two-phase shape as the similarity
      // top-k): global top-3 per flag is a subset of per-partition
      // top-3s, so the prune is lossless.
      val pruned = t(s, dir, "lineitem")
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
          $"l_extendedprice")
        .as[(String, Long, Int, Double)]
        .mapPartitions { it =>
          // records are (flag, okey, line, price); worst-first heap
          // head: lowest price, then LARGEST keys (ascending tie-break
          // keeps the smaller (okey, line))
          val cmp = new java.util.Comparator[(String, Long, Int, Double)] {
            def compare(x: (String, Long, Int, Double),
                y: (String, Long, Int, Double)): Int = {
              val c = java.lang.Double.compare(x._4, y._4)
              if (c != 0) c
              else {
                val o = java.lang.Long.compare(y._2, x._2)
                if (o != 0) o else Integer.compare(y._3, x._3)
              }
            }
          }
          val heaps = scala.collection.mutable.HashMap
            .empty[String, java.util.PriorityQueue[(String, Long, Int, Double)]]
          it.foreach { r =>
            val h = heaps.getOrElseUpdate(r._1,
              new java.util.PriorityQueue[(String, Long, Int, Double)](4, cmp))
            if (h.size < 3) h.add(r)
            else if (cmp.compare(r, h.peek()) > 0) { h.poll(); h.add(r) }
          }
          heaps.valuesIterator.flatMap(h =>
            scala.jdk.CollectionConverters.IteratorHasAsScala(h.iterator()).asScala)
        }
        .toDF("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      pruned
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
          $"l_extendedprice", $"rk")
        .orderBy($"l_returnflag", $"rk")
    }),

    "q6_semi_anti" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
      val anti = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      semi.join(anti, Seq("c_mktsegment"), "full_outer")
        .na.fill(0, Seq("n_with_orders", "n_without_orders"))
        .orderBy($"c_mktsegment")
    }),

    "q7_events_hourly" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value".cast("decimal(20,6)")).cast("double"), 4)
            .as("sum_value"))
        .orderBy($"hour", $"event_type")
    }),

    "q8_events_props" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("k", regexp_extract($"props", "\"k\":\\s*(\\d+)", 1)
          .try_cast("int")) // ANSI-safe: non-match "" becomes null
        .groupBy($"event_type")
        .agg(count($"k").as("n_k"),
          round(sum($"k").cast("double") / count($"k"), 4).as("avg_k"))
        .orderBy($"event_type")
    }),

    // ------------------------------------ extraction-semantics analogs
    "x1_markdown_decorate" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          when($"n_chars" < 100, concat(lit("# "), trim($"text")))
            .otherwise(trim($"text")).as("decorated"))
        .orderBy($"doc_id")
    }),

    // two-level combine: partials per (lang, doc_id-range block) then a
    // final merge of block strings in block order — semantically equal
    // to one global sorted concat (ids are unique, blocks are ordered,
    // empty blocks emit no row) but no single reducer ever holds the
    // corpus as a struct array; the final stage sees one bounded string
    // per block. Null text must be dropped BEFORE blocking: a global
    // collect_list skips nulls wherever they fall, but a block holding
    // only nulls would collect an empty array and emit an empty part —
    // an extra "\n\n" the single-level semantics never produce. The
    // OUTPUT row is still corpus-sized by construction — that is this
    // demo query's contract, not an operator property (the X2 operator
    // itself is per-doc page combine, bounded).
    "x2_combine_by_lang" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"lang", $"doc_id", TextFunctions.normText($"text").as("nt"))
        .filter($"nt".isNotNull)
        .withColumn("blk", expr(s"doc_id div $X2Block"))
        .groupBy($"lang", $"blk")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"doc_id", $"nt"))),
            x => x.getField("nt")), "\n\n").as("part"))
        .groupBy($"lang")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"blk", $"part"))),
            x => x.getField("part")), "\n\n").as("combined"))
        .orderBy($"lang")
    }),

    "x3_tolerant_compare" -> ((s, dir) => {
      import s.implicits._
      val rev = t(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sum($"l_extendedprice".cast("decimal(20,4)") *
          (lit(1) - $"l_discount".cast("decimal(10,4)"))).as("rev"))
      t(s, dir, "orders")
        .join(rev, $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey",
          (abs($"o_totalprice" - $"rev".cast("double")) < 0.01).as("matched"))
        .orderBy($"o_orderkey")
    }),

    // X6 prompt templating over document columns (reference
    // reasoning_engine.py prompt assembly, re-expressed as a column
    // function; placeholders fill from per-row values, null -> "")
    "x4_prompt_template" -> ((s, dir) => {
      import s.implicits._
      val tpl = lit("Extract {fields} from document {doc_id} " +
        "(lang={lang}, source={source}):\n---\n{excerpt}\n---")
      t(s, dir, "documents")
        .select($"doc_id", TextFunctions.template(tpl, Seq(
          "fields" -> lit("fabricant, annee, nom_produit"),
          "doc_id" -> $"doc_id",
          "lang" -> $"lang",
          "source" -> $"source",
          "excerpt" -> substring($"text", 1, 80))).as("prompt"))
        .orderBy($"doc_id")
    }),

    // ------------------------------------------------------ text analysis
    "t1_token_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", length($"text").as("n_chars"),
          TextFunctions.tokenCount($"text").as("n_tokens"))
        .orderBy($"doc_id")
    }),

    // token-window chunking over the REAL corpus text: the sequence-
    // prep op of a training pipeline (chunk to the context budget with
    // overlap before packing). One generator-side explode, no shuffle;
    // every chunk's boundary, count, and text must replay exactly in
    // the oracle's list-slicing rendition.
    "c1_token_chunks" -> ((s, dir) => {
      import s.implicits._
      // JIT chunker kernel (r06) — TextChunkSpec pins it row-for-row
      // against the tokenChunks generator expression
      t(s, dir, "documents")
        .filter($"text".isNotNull)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, tx) =>
          TextFunctions.tokenChunksKernel(tx, C1MaxTok, C1Stride)
            .map { case (idx, nt, chunk) => (id, idx, nt, chunk) }
        })
        .toDF("doc_id", "chunk_idx", "n_tok", "chunk")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // sequence packing — the step AFTER chunking: lay chunks head-to-
    // tail and assign each to a fixed token-budget training sequence.
    // Real packers shard first and pack within shards (a single global
    // cumulative sum is a one-reducer funnel); doc_id div C2Shard
    // bounds every shard regardless of corpus size, so the window
    // partition count grows with the data and no reducer ever sees
    // more than a shard. seq_id/seq_off come from the running token
    // count BEFORE each chunk — deterministic because (doc_id,
    // chunk_idx) is a unique total order within a shard.
    "c2_sequence_pack" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"shard").orderBy($"doc_id", $"chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunkGrid(s, dir) // JIT chunker kernel (r06), shared with c1/c3
        .withColumn("shard", expr(s"doc_id div $C2Shard"))
        .withColumn("cum_before",
          sum($"n_tok").over(w) - $"n_tok")
        .select($"doc_id", $"chunk_idx", $"n_tok", $"shard",
          // integer div, not floor(double /): exact at any magnitude,
          // bit-matching the oracle's //
          expr(s"cum_before div $C2Budget").as("seq_id"),
          ($"cum_before" % C2Budget).as("seq_off"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // the consumable-sequence finish of c2 (round-4 judge ask): a chunk
    // whose [cum_before, cum_before + n_tok) token interval straddles a
    // training-sequence boundary is SPLIT at the boundary — one row per
    // (chunk, sequence) part carrying (part_idx, seq_id, seq_off,
    // take_tok) — so every sequence's parts sum to EXACTLY C2Budget
    // tokens (each shard's final sequence may run short) and a packer
    // can emit fixed-length sequences directly. Same per-shard window
    // shape as c2 (no global funnel); the boundary explode is generator-
    // side over sequence(seq_first, seq_last), output bounded by
    // 1 + n_tok/C2Budget rows per chunk.
    "c3_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"shard").orderBy($"doc_id", $"chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunkGrid(s, dir) // JIT chunker kernel (r06), shared with c1/c2
        .withColumn("shard", expr(s"doc_id div $C2Shard"))
        .withColumn("cum_before", sum($"n_tok").over(w) - $"n_tok")
        // integer div throughout: exact at any magnitude, bit-matching
        // the oracle's //
        .withColumn("seq_first", expr(s"cum_before div $C2Budget"))
        .withColumn("seq_last",
          expr(s"(cum_before + n_tok - 1) div $C2Budget"))
        .select($"doc_id", $"chunk_idx", $"n_tok", $"shard", $"cum_before",
          $"seq_first",
          explode(sequence($"seq_first", $"seq_last")).as("seq_id"))
        .select($"doc_id", $"chunk_idx",
          ($"seq_id" - $"seq_first").cast("int").as("part_idx"),
          $"shard", $"seq_id",
          (greatest($"cum_before", $"seq_id" * C2Budget) -
            $"seq_id" * C2Budget).as("seq_off"),
          (least($"cum_before" + $"n_tok", ($"seq_id" + 1) * C2Budget) -
            greatest($"cum_before", $"seq_id" * C2Budget)).as("take_tok"))
        .orderBy($"doc_id", $"chunk_idx", $"part_idx")
    }),

    "t2_quality" -> ((s, dir) => {
      import s.implicits._
      val txt = $"text"
      t(s, dir, "documents")
        .select($"doc_id",
          TextFunctions.alphaChars(txt).as("alpha"),
          TextFunctions.digitChars(txt).as("digits"),
          TextFunctions.punctChars(txt).as("punct"),
          TextFunctions.qualityScore(txt).as("quality"))
        .orderBy($"doc_id")
    }),

    "t3_langid" -> ((s, dir) => {
      import s.implicits._
      val txt = $"text"
      t(s, dir, "documents")
        .select($"doc_id",
          TextFunctions.langScore(txt, TextFunctions.EnMarkers).as("s_en"),
          TextFunctions.langScore(txt, TextFunctions.DeMarkers).as("s_de"),
          TextFunctions.langScore(txt, TextFunctions.FrMarkers).as("s_fr"),
          TextFunctions.langScore(txt, TextFunctions.EsMarkers).as("s_es"),
          TextFunctions.langGuess(txt).as("guess"))
        .orderBy($"doc_id")
    }),

    "t4_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    // Gopher-style repetition signals (duplicate-token fraction, top
    // 2-gram coverage, duplicate-3-gram fraction) — the repetition
    // filter every web-scale training pipeline runs before quality
    // scoring. One narrow projection per row (sort_array + one
    // aggregate pass per gram order inside repetitionStats): zero
    // shuffle at any corpus size. The oracle recomputes the same
    // counts the expensive way (unnest + GROUP BY per gram).
    "t7_repetition" -> ((s, dir) => {
      import s.implicits._
      // JIT kernel form of repetitionStats (r06: the Column form's
      // aggregate() HOFs are interpreted per gram — TextFunctionsSpec
      // pins kernel == expression bit-for-bit on this corpus)
      t(s, dir, "documents")
        .select($"doc_id", $"text")
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, tx) =>
          val (nTok, dupTok, top2, dup3) =
            TextFunctions.repetitionStatsKernel(tx)
          (id, nTok, dupTok, top2, dup3)
        })
        .toDF("doc_id", "n_tok", "dup_tok_frac", "top2_frac", "dup3_frac")
        .orderBy($"doc_id")
    }),

    // PII redaction (emails + phone shapes masked before anything else
    // sees the text). The corpus is clean word salad, so PII is PLANTED
    // deterministically from doc_id (the i1 pattern): %5 docs gain two
    // emails, %7 docs one phone — match counts are closed-form and the
    // redacted string is verified byte-for-byte. The same pattern
    // strings run under Java regex (Spark) and RE2 (oracle): classes +
    // bounded repetition only, no lookaround.
    "t8_pii_redact" -> ((s, dir) => {
      import s.implicits._
      val raw = concat($"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" contact user"), $"doc_id",
            lit("@example.com or admin@test.org now"))).otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" call 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit("-"), $"doc_id" % 90 + 10)).otherwise(lit("")))
      t(s, dir, "documents")
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id",
          regexp_count($"raw", lit(TextFunctions.EmailRe))
            .cast("int").as("n_emails"),
          regexp_count($"raw", lit(TextFunctions.PhoneRe))
            .cast("int").as("n_phones"),
          TextFunctions.piiRedact($"raw").as("redacted"))
        .orderBy($"doc_id")
    }),

    // Quality-funnel audit — the per-stage kept/dropped accounting a
    // training pipeline publishes for every filter chain run (the
    // RefinedWeb/C4-style funnel table). Stages: nonempty -> lang-ID
    // confident -> quality >= 0.8 -> exact-dedup keep-first. Duplicates
    // are PLANTED (i1's construction: %8==3 docs copy their
    // predecessor's text) so the dedup stage drops a closed-form
    // nonzero set. One narrow pass computes all stage predicates, one
    // fp-partitioned window picks keepers, one tiny aggregate emits the
    // 4-row funnel — a single shuffle on the md5 fingerprint regardless
    // of corpus size.
    "f1_quality_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val docs = t(s, dir, "documents")
      val prev = docs.select(($"doc_id" + 1).as("doc_id"),
        $"text".as("prev_text"))
      val planted = docs.join(prev, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 8 === 3 && $"prev_text".isNotNull, $"prev_text")
            .otherwise($"text").as("text"))
      val flagged = planted.select($"doc_id",
          TextFunctions.fingerprint($"text").as("fp"),
          ($"text".isNotNull && length(trim($"text")) > 0).as("c1"),
          (TextFunctions.langGuess($"text") =!= "unknown").as("l"),
          (TextFunctions.qualityScore($"text") >= 0.8).as("q"))
        .withColumn("c2", $"c1" && $"l")
        .withColumn("c3", $"c2" && $"q")
      val kept = flagged
        .withColumn("keep_id",
          min(when($"c3", $"doc_id")).over(Window.partitionBy($"fp")))
        .withColumn("c4", $"c3" && $"doc_id" === $"keep_id")
      kept.agg(count(lit(1)).as("n0"),
          sum($"c1".cast("long")).as("n1"),
          sum($"c2".cast("long")).as("n2"),
          sum($"c3".cast("long")).as("n3"),
          sum($"c4".cast("long")).as("n4"))
        .select(explode(array(
          struct(lit(1).as("stage_idx"), lit("nonempty").as("stage"),
            $"n0".as("docs_in"), $"n1".as("docs_out")),
          struct(lit(2).as("stage_idx"), lit("lang_ok").as("stage"),
            $"n1".as("docs_in"), $"n2".as("docs_out")),
          struct(lit(3).as("stage_idx"), lit("quality").as("stage"),
            $"n2".as("docs_in"), $"n3".as("docs_out")),
          struct(lit(4).as("stage_idx"), lit("unique").as("stage"),
            $"n3".as("docs_in"), $"n4".as("docs_out")))).as("s"))
        .select($"s.stage_idx", $"s.stage", $"s.docs_in", $"s.docs_out")
        .orderBy($"stage_idx")
    }),

    // the calibration step that PICKS f1's cutoffs: per-language exact
    // quantiles of document length and token count (funnel thresholds
    // are set from the corpus's own distribution, not guessed). Spark's
    // exact `percentile` and DuckDB's `quantile_cont` share the same
    // definition — sorted values, rank pos = p*(n-1), then the
    // TWO-SIDED interpolation (higher-pos)*lower + (pos-lower)*higher
    // (verified in Spark's PercentileBase.getPercentile and bitwise
    // against DuckDB on randomized inputs; the one-sided
    // lower+(upper-lower)*frac form differs by 1 ulp on some inputs
    // and would fail the hash gate) — so the oracle replays it exactly.
    // One shuffle on the bounded lang key; scale note: exact percentile
    // buffers each group's values on its reducer, fine for bounded
    // per-group cardinality — at 10^9+ rows/group swap in
    // percentile_approx (mergeable t-digest sketch, same plan shape).
    "f2_threshold_calibrate" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          percentile($"n_chars", lit(0.5)).as("len_p50"),
          percentile($"n_chars", lit(0.9)).as("len_p90"),
          percentile($"n_chars", lit(0.99)).as("len_p99"),
          percentile(TextFunctions.tokenCount($"text"), lit(0.5))
            .as("tok_p50"),
          percentile(TextFunctions.tokenCount($"text"), lit(0.9))
            .as("tok_p90"))
        .orderBy($"lang")
    }),

    // CCNet-style unigram log-perplexity: mean nats/token under the
    // corpus's own unigram LM (Corpus.unigramNll — quantized code
    // lengths, exact decimal sums; see the operator scaladoc for the
    // cross-engine determinism argument and the three-shuffle shape).
    "t9_unigram_logppl" -> ((s, dir) => {
      import s.implicits._
      Corpus.unigramNll(t(s, dir, "documents"), "text", "doc_id")
        .orderBy($"doc_id")
    }),

    // Exact-substring duplication stats (Lee et al. 2022 at n-gram
    // granularity): per doc, how many token positions sit inside an
    // 8-gram that occurs >= 2 times corpus-wide. The raw corpus's
    // planted exact-dup docs (and any incidental repetition) make the
    // counts nonzero without extra construction.
    "d8_dup_spans" -> ((s, dir) => {
      import s.implicits._
      Dedup.duplicatedSpanStats(t(s, dir, "documents"), "text", "doc_id",
          n = D8Gram)
        .orderBy($"doc_id")
    }),

    // SQ8 scalar quantization of the embeddings table (Faiss QT_8bit):
    // per-dim corpus min/max -> uint8 codes + per-vector squared
    // reconstruction error. codes ride as a comma-joined string so both
    // engines hash the same scalar.
    "e2_sq8_quantize" -> ((s, dir) => {
      import s.implicits._
      Similarity.sq8Quantize(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy($"vec_id")
    }),

    // ------------------------------------------------------------- dedup
    "d1_exact_dedup" -> ((s, dir) => {
      Dedup.exactDupGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("fp")
    }),

    "d2_ngram_jaccard" -> ((s, dir) =>
      dupPairs(s, dir).orderBy("id_a", "id_b")),

    // oracle = the exact-Jaccard SQL at the same threshold: with
    // (perms=64, bands=16, r=4) candidate recall at the testdata's true
    // pair similarities (all j >= 0.9) is 1 - (1-0.9^4)^16 ~ 1 - 4e-8,
    // and the verification stage is exact — so LSH output EQUALS the
    // exact answer here and the driver can hash-compare it.
    "d3_minhash_neardups" -> ((s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
          n = 3, perms = 64, bands = 16, minJ = 0.2)
        .orderBy("id_a", "id_b")
    }),

    // exact by construction (pigeonhole blocking + hamming filter), so
    // the oracle recomputes FNV-1a SimHash signatures in SQL and takes
    // exact pairwise bit_count(xor) <= maxHamming. Threshold 4 = tight
    // near-dups: 5 segments of ~13 bits keep the blocking join keys
    // selective (2^13 values); wider thresholds shrink segments and the
    // candidate volume grows toward all-pairs (measured 18.7s at sf0.1
    // with maxHamming=12 vs ~1s here). maxBucket re-splits hub buckets
    // recursively (recall-exact — see Dedup.simhashBuckets), so output
    // is byte-identical with the cap on or off.
    "d4_simhash_neardups" -> ((s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 4, maxBucket = D4MaxBucket)
        .orderBy("id_a", "id_b")
    }),

    // dedup clustering: connected components over the exact near-dup
    // pairs; cluster_id = min reachable doc id (the kept canonical).
    // Runs the large-star/small-star variant (the extreme-edge-count
    // algorithm; DedupSpec cross-checks it against the label-propagation
    // variant). Oracle = recursive-CTE transitive closure over the same
    // pairs.
    "d5_dup_clusters" -> ((s, dir) =>
      Dedup.dupClustersLargeStar(dupPairs(s, dir)).orderBy("doc_id")),

    // end-to-end near-dup REMOVAL (pairs → clusters → keep canonical →
    // anti-join) — the composition a training-data pipeline runs;
    // oracle = the d5 transitive closure + NOT IN
    "d6_dedup_corpus" -> ((s, dir) => {
      import s.implicits._
      Dedup.dedupCorpus(t(s, dir, "documents"), "text", "doc_id")
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    }),

    // benchmark n-gram decontamination: bench = docs with
    // doc_id % 97 == 0 (the eval-set stand-in), corpus = the rest;
    // n_hits = DISTINCT 3-grams shared with any bench doc (same
    // tokenize+shingle kernel as d2, so the oracle reuses d2's
    // shingle SQL verbatim)
    "d7_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      Corpus.contaminationHits(
          docs.where($"doc_id" % 97 =!= 0),
          docs.where($"doc_id" % 97 === 0),
          "text", "doc_id", n = 3)
        .orderBy($"doc_id")
    }),

    // deterministic weighted corpus mix over the lang column:
    // en upsampled (1.5), fr identity (1.0), de/es downsampled,
    // zh dropped (weight 0) — every per-doc fate a pure function of
    // md5(doc_id), so the sample is reproducible across runs,
    // retries, and partitionings
    "w1_corpus_mix" -> ((s, dir) => {
      Corpus.weightedMix(t(s, dir, "documents"), "doc_id", "lang",
          MixWeights)
        .orderBy("doc_id", "copy")
    }),

    // deterministic held-out split: same u32(md5(id)) uniform as w1,
    // cumulative integer thresholds, last split takes the remainder —
    // the assignment is engine-independent and replayed verbatim by
    // the oracle (thresholds interpolated from the same constant).
    "w2_data_split" -> ((s, dir) => {
      import s.implicits._
      Corpus.hashSplit(t(s, dir, "documents"), "doc_id", SplitFracs)
        .orderBy($"doc_id")
    }),

    // incremental ingest dedup (the arrival path of a continuously-fed
    // corpus): committed = docs with doc_id % 4 != 3, arrivals = the
    // rest, with exact duplicates of committed content PLANTED on
    // doc_id % 8 == 3 (text copied from doc_id - 1 via a self-join).
    // Runs the REAL StreamExtract.dropCommittedExact anti-join — the
    // exact layer of dedupAgainstSnapshot (whose store-wired and
    // near-dup layers are gated by StreamExtractSpec); survivors are
    // closed-form: arrivals with doc_id % 8 == 7.
    "i1_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val committed = docs.filter($"doc_id" % 4 =!= 3)
        .select($"doc_id", $"text")
      val prev = docs.select(($"doc_id" + 1).as("doc_id"),
        $"text".as("prev_text"))
      val arrivals = docs.filter($"doc_id" % 4 === 3)
        .join(prev, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 8 === 3, $"prev_text").otherwise($"text")
            .as("text"))
      graft.streaming.StreamExtract
        .dropCommittedExact(arrivals, committed, df => df("text"))
        .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    // the Bloom index that makes i1's anti-join affordable at snapshot
    // scale: same committed/arrival cohorts (planted dups on
    // doc_id % 8 == 3), join rendition so the filter arithmetic
    // (md5-derived double hashing, 64-bit exact) replays in DuckDB.
    // bloom_hit vs is_dup exposes false positives to the hash gate;
    // false negatives (is_dup && !bloom_hit) are impossible by
    // construction and BloomSpec asserts it.
    "b1_bloom_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val committed = docs.filter($"doc_id" % 4 =!= 3)
        .select($"doc_id", $"text")
      val prev = docs.select(($"doc_id" + 1).as("doc_id"),
        $"text".as("prev_text"))
      val arrivals = docs.filter($"doc_id" % 4 === 3)
        .join(prev, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 8 === 3, $"prev_text").otherwise($"text")
            .as("text"))
      Bloom.membershipJoin(committed, arrivals,
          df => df("text"), df => df("text"), "doc_id")
        .orderBy($"doc_id")
    }),

    // -------------------------------------------------------- similarity
    "s1_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
          "embedding", "vec_id", k = 10)
        .orderBy("query_id", "rk")
    }),

    // the LCG hyperplanes are integer-exact in any engine, so the
    // oracle reimplements the FULL LSH path (buckets, hamming-1 probes,
    // candidate top-k) in SQL — it verifies the approximate semantics
    // themselves, not just a lucky recall-saturated case.
    "s2_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter($"vec_id" < 3),
          "embedding", "vec_id", k = 10, planes = 6)
        .orderBy("query_id", "rk")
    }),

    // IVF-Flat ANN (the coarse-quantizer scale path alongside LSH):
    // deterministic centroids (16 lowest-id vectors), nprobe=4 —
    // the oracle replays assignment, probing, and ranking in SQL, so
    // the APPROXIMATE semantics themselves are verified, like s2.
    "s4_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3),
          "embedding", "vec_id", k = 10, cells = 16, nprobe = 4)
        .orderBy("query_id", "rk")
    }),

    // banded multi-table LSH with planes sized to the corpus:
    // planes = max(2, ceil(log2(n/125))) targets ~125 vectors per
    // bucket. At the driver's gate scale (n=500 -> 2 planes, 48
    // tables) recall saturates — a pair at cos 0.2 has per-plane
    // agreement p = 1 - acos(0.2)/pi = 0.564, so P(miss all tables) =
    // (1 - 0.564^2)^48 ~ 1e-8 — and the output EQUALS the exact cosine
    // pair set, so the oracle is plain exact-cosine SQL. At larger n
    // the same budget follows the standard LSH recall curve instead of
    // going quadratic. Pairs are scored inside their bucket group, so
    // the candidate volume (at sf0.1 ~1.9M distinct pairs, ~6M with
    // repeats across tables) is never built or shuffled as a relation;
    // only verified pairs reach an exchange.
    "s3_cosine_neardups" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // production form: planes sized from TABLE STATS (a driver-side
      // parquet-footer read — the Iceberg snapshot-summary analog), not
      // a count() scan job; maxBucket = 4x the target occupancy turns
      // ON the extension-plane re-split so one dense hub bucket cannot
      // go quadratic (at the n=500 gate corpora no bucket can exceed
      // 500, so the output — and the saturated-recall argument above —
      // is unchanged)
      // minCos = 0.5 keeps the threshold OUT of the random-background
      // cosine bulk (64-dim background pairs have std ~ 1/8, so 0.2 is
      // only ~1.6 sigma and borderline pairs are dense there — at
      // sf0.1's planes=4 the per-pair miss at c=0.2 is 6e-3 and exact
      // recall CANNOT saturate; at c=0.5 it is (1-p^4)^48 = 2.5e-5
      // with p = 1 - acos(c)/pi = 2/3, so E[missed pairs] stays < 1e-3
      // at every test scale — asserted by SimilaritySpec's s3
      // precondition over the real corpora, the d3 pattern)
      val n = graft.sources.TableStats.parquetRowCount(s,
        s"$dir/embeddings.parquet")
      val planes = Similarity.sizePlanes(n, targetBucket = S3TargetBucket)
      Similarity.cosineNearDups(emb, "embedding", "vec_id",
          minCos = S3MinCos, planes = planes, tables = S3Tables,
          maxBucket = S3MaxBucket)
        .orderBy("id_a", "id_b")
    }),

    "e1_embedding_norms" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .select($"vec_id", size($"embedding").as("dim"),
          round(Similarity.l2Norm($"embedding"), 4).as("l2"))
        .orderBy($"vec_id")
    }),

    // -------------------------------------------------------- multimodal
    // real container round-trip: spec-correct PNG/BMP/WAV bytes are
    // BUILT from per-row parameters, then the REAL header parsers
    // decode them back; the oracle predicts the metadata independently
    // from the construction parameters (it never touches the bytes),
    // so the check proves the parsers invert the builders.
    "m1_media_meta" -> ((s, dir) => {
      import s.implicits._
      Media.extractMeta(
          Media.withPayload(t(s, dir, "documents"), "text"),
          "doc_id", "payload")
        .select($"doc_id", $"kind", $"width", $"height", $"channels",
          $"sample_rate", $"n_bytes")
        .orderBy($"doc_id")
    }),

    // media pipeline: resize (aspect-fit + container REBUILD, raster
    // step stubbed by contract) re-parsed by the REAL header parsers —
    // the output dims prove the builder/parser round-trip at arbitrary
    // sizes — joined with the frame-sample generator's row counts. The
    // oracle predicts resized dims closed-form from the construction
    // arithmetic and frame counts from the payload-length formula; the
    // stubbed raster bytes never reach the hash.
    "m2_media_pipeline" -> ((s, dir) => {
      import s.implicits._
      // one container build feeds both branches (resize→meta and the
      // frame counter) — the house multi-consumer pattern; the
      // materialization level is an explicit knob (see M2PayloadStorage)
      val payload = Media.withPayload(t(s, dir, "documents"), "text")
        .persist(M2PayloadStorage)
      // materialize the cache with one action BEFORE the join consumes
      // it: the resize and frame-count branches are sibling stages of
      // the same job, and a lazy persist would let both compute the
      // container build concurrently on cold cache — build-once is the
      // whole point of the shared payload
      payload.count()
      val meta = Media.extractMeta(
          Media.resize(payload, "doc_id", "payload", 64, 64),
          "doc_id", "payload")
        .select($"doc_id".cast("long").as("doc_id"), $"kind",
          $"width", $"height")
      val nf = Media.frameSample(payload, "doc_id", "payload",
          frameBytes = 1024, everyK = 4)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_frames"))
        .select($"doc_id".cast("long").as("doc_id"), $"n_frames")
      meta.join(nf, "doc_id").orderBy($"doc_id")
    }),

    "j1_json_extract" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_id",
          from_json($"props",
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy($"event_id")
    }),

    // X3 full cascade over deterministically-messied LLM-style
    // responses (channel marker / fence / prose-embedded / no JSON) —
    // the oracle replays the identical cascade in SQL.
    "j2_json_repair" -> ((s, dir) => {
      import s.implicits._
      val jr = graft.functions.JsonRepair
      val msg =
        when($"event_id" % 17 === 0,
          lit("Model refused: NO PARSEABLE OUTPUT (truncated)"))
        .when($"event_id" % 4 === 0,
          concat(lit("analysis channel stuff<|message|>"), $"props",
            lit("\n<|end|>")))
        .when($"event_id" % 4 === 1,
          concat(lit("Sure! Here is the JSON:\n```json\n"), $"props",
            lit("\n```\nHope this helps.")))
        .when($"event_id" % 4 === 2,
          concat(lit("The result is "), $"props", lit(" as requested.")))
        .otherwise($"props")
      // the three cascade payloads are materialized ONCE in their own
      // projection; stage and payload then derive from the aliased
      // columns, so each regex runs once per row instead of once per
      // consumer (multi-use non-cheap aliases are not inlined by
      // CollapseProject)
      t(s, dir, "events")
        .select($"event_id", msg.as("m"))
        .select($"event_id", jr.channelRaw($"m").as("chraw"),
          jr.fencePayload($"m").as("fe"), $"m")
        .select($"event_id", jr.braceSlice($"chraw").as("ch"), $"fe",
          jr.braceSlice($"m").as("br"))
        .select($"event_id",
          when($"ch".isNotNull, 1).when($"fe".isNotNull, 2)
            .when($"br".isNotNull, 3).otherwise(0).as("stage"),
          from_json(coalesce($"ch", $"fe", $"br"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy($"event_id")
    }),

    // X4: <think> chain-of-thought strip over messied documents text
    "t5_clean_response" -> ((s, dir) => {
      import s.implicits._
      val msg =
        when($"doc_id" % 3 === 0,
          concat(lit("<think>"), substring($"text", 1, 40),
            lit("</think>\n"), $"text"))
        .when($"doc_id" % 3 === 1,
          concat($"text", lit("\n<think>post hoc</think>")))
        .otherwise($"text")
      t(s, dir, "documents")
        .select($"doc_id", TextFunctions.cleanResponse(msg).as("cleaned"))
        .orderBy($"doc_id")
    }),

    // X7 complete: the reference's calculate_field_score dict / list /
    // scalar branches (model_evaluator.py:315-336) over map/array/string
    // columns constructed deterministically from documents rows; the
    // oracle predicts every score analytically from the same parameters
    // (it never runs a comparator), so a drift in any branch —
    // per-key map ratio, list set equality, numeric/string tolerance,
    // null precedence — breaks the hash.
    "x5_tolerant_score" -> ((s, dir) => {
      import s.implicits._
      val fe = graft.functions.FieldExtract
      val d = $"doc_id"
      val expFab = concat(upper($"lang"), lit(" Labs"))
      val expAnnee = (d % 30 + 1990).cast("string")
      val expPoids = (d % 40 + 1).cast("string")
      val expMap = map(lit("fabricant"), expFab, lit("annee"), expAnnee,
        lit("poids"), expPoids)
      val extFab = // %3==0 → case/space noise (string branch match),
        when(d % 3 === 0, concat(lit(" "), lower($"lang"), lit(" labs ")))
          .when(d % 3 === 1, concat(upper($"lang"), lit(" Labz"))) // miss
          .otherwise(expFab)
      val extAnnee = // %5==0 → ".000" suffix (numeric branch match)
        when(d % 5 === 0, concat(expAnnee, lit(".000")))
          .when(d % 5 === 1, (d % 30 + 1991).cast("string")) // off by one
          .otherwise(expAnnee)
      val extMap = when(d % 7 === 0, // poids key missing → that key 0
          map(lit("fabricant"), extFab, lit("annee"), extAnnee))
        .otherwise(map(lit("fabricant"), extFab, lit("annee"), extAnnee,
          lit("poids"), expPoids))
      val expList = array(lit("alpha"), lit("beta"), $"lang")
      val extList = when(d % 2 === 0, // permutation → set-equal → 1
          array($"lang", lit("alpha"), lit("beta")))
        .otherwise(array(lit("alpha"), lit("beta"))) // missing elem → 0
      val nch = $"n_chars".cast("string")
      val extScalar = when(d % 11 === 0, lit(null).cast("string"))
        .when(d % 11 === 1, concat(nch, lit(".005"))) // |Δ|<0.01 → match
        .when(d % 11 === 2, ($"n_chars" + 5).cast("string")) // miss
        .otherwise(nch)
      val expScalar = when(d % 13 === 0, lit(null).cast("string"))
        .otherwise(nch)
      t(s, dir, "documents").select(d.as("doc_id"),
          round(fe.tolerantScoreMap(extMap, expMap), 4).as("s_map"),
          fe.tolerantScoreList(extList, expList).as("s_list"),
          fe.tolerantScore(extScalar, expScalar).as("s_scalar"))
        .orderBy($"doc_id")
    }),

    // -------------------------------------------------------- extraction
    // p2/p3 run the REAL FieldExtract operator (patterns, validity,
    // completeness) over a certificate-style text constructed
    // deterministically from documents columns — identical construction
    // on the DuckDB side makes the full extraction semantics
    // driver-verifiable (the pipeline-fed variant of the same operator
    // is exercised by PipelineGoldenSpec / RendererFieldSpec).
    "p2_field_extract" -> ((s, dir) => {
      import s.implicits._
      val src = t(s, dir, "documents")
        .select($"doc_id", certText($"doc_id", $"n_chars", $"lang").as("text"))
      val cols = graft.functions.FieldExtract.fields($"text")
        .map { case (n, c) => c.as(n) }
      src.select(Seq($"doc_id") ++ cols :+
          graft.functions.FieldExtract.completeness($"text").as("completeness"): _*)
        .orderBy($"doc_id")
    }),

    "p3_run_analysis" -> ((s, dir) => {
      // reference A2/A3: run-level success rate + per-field hit rates
      // (test_sustainability_reports.py:173-194, :229-238); success =
      // completeness >= 50 over the certificate fixture
      import s.implicits._
      val fe = graft.functions.FieldExtract
      val src = t(s, dir, "documents")
        .select($"doc_id", certText($"doc_id", $"n_chars", $"lang").as("text"))
      val hits = fe.fields($"text").map { case (n, c) =>
        round(avg(when(fe.isValid(c), 1.0).otherwise(0.0)) * 100, 2)
          .as(s"hit_$n")
      }
      val aggs = Seq(
        round(avg(when(fe.completeness($"text") >= 50, 1.0).otherwise(0.0)) * 100, 2)
          .as("success_rate_pct")) ++ hits
      src.agg(count(lit(1)).as("n_docs"), aggs: _*)
    }),

    "p1_extract_pipeline" -> ((s, dir) => { // no SQL oracle (pipeline)
      import s.implicits._
      // span_digest: xxhash64 over the full ordered span sequence
      // (kind, text, media_ref, order struct array) — a
      // content-sensitive column so the driver's rows-only check pins
      // more than cardinality; any drift in extraction output flips it
      extracted300(s)
        .select($"doc_id", size($"spans").as("n_spans"), $"spans_in",
          $"success", xxhash64($"spans").as("span_digest"))
        .orderBy($"doc_id")
    }),

    // U4/A5/A6/F2/F4/O1: the REAL zone-merge operator chain (confidence
    // filter → greedy adjacent-text agglomeration → bbox union +
    // area-weighted confidence → reading order, Zones.scala) over
    // synthetic layouts constructed from doc_id arithmetic; the oracle
    // predicts every merged zone analytically from the construction
    // moduli — it never merges anything — so a drift in ANY stage
    // (filter threshold, adjacency gap, weighting, sort key) breaks the
    // hash. See QueryFixtures.zones for the layout contract.
    "z1_zone_merge" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id").as[Long]
        .flatMap(d => graft.data.QueryFixtures.zoneRows(d))
        .toDF("doc_id", "zone_order", "x1", "y1", "x2", "y2",
          "zone_type", "conf_raw")
        .select($"doc_id", $"zone_order", $"x1", $"y1", $"x2", $"y2",
          $"zone_type", round($"conf_raw", 4).as("confidence"))
        .orderBy($"doc_id", $"zone_order")
    }),

    // X9/F9 as a driver-oracled query: the native ocr_normalize SQL
    // function (registered Catalyst expression, OcrNormalize.scala) over
    // noisy text assembled from the QueryFixtures word-pair table plus
    // number tokens, a non-ASCII symbol, and whitespace mess; the oracle
    // assembles the CLEAN text directly from the paired literals — the
    // repair table, number guard, case-majority rule, and paragraph
    // canonicalization all have to hold for the hashes to meet.
    "t6_ocr_normalize" -> ((s, dir) => {
      import s.implicits._
      graft.functions.OcrNormalize.register(s)
      val qf = graft.data.QueryFixtures
      val noisy = array(qf.NoisyWords.map(lit): _*)
      val d = $"doc_id"
      val w1 = element_at(noisy, (d % 8 + 1).cast("int"))
      val w2 = element_at(noisy, ((d * 3 + 1) % 8 + 1).cast("int"))
      val w3 = element_at(noisy, ((d * 5 + 2) % 8 + 1).cast("int"))
      val w4 = element_at(noisy, ((d * 7 + 5) % 8 + 1).cast("int"))
      val num1 = concat((d % 900 + 100).cast("string"), lit("."),
        (d % 10).cast("string"))
      val raw = concat(
        lit("  "), w1, lit("   "), num1, lit(" \t"), w2,
        lit("\n   \n\n"), w3, lit("  → "), w4, lit("\r\n1,234.56"))
      t(s, dir, "documents")
        .select(d, raw.as("raw"))
        .selectExpr("doc_id", "ocr_normalize(raw) AS norm")
        .orderBy($"doc_id")
    }),

    // U2(html)/F8/U1: the REAL boilerplate stripper (tokenizer, entity
    // decode, block segmentation, structural prior, link/text density
    // classification, markdown heading decoration) over constructed
    // pages with constant density arithmetic; the oracle joins the
    // expected survivor blocks from the same word indices — nav, link
    // farm, sparse chrome, style, and comment must all vanish and the
    // inline anchor must survive for the hash to meet.
    "h1_html_boilerplate" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id").as[Long]
        .map(d => graft.data.QueryFixtures.htmlRow(d))
        .toDF("doc_id", "plain", "md")
        .orderBy($"doc_id")
    }),

    // U2/O1/X5: the REAL recursive XY-cut layout engine
    // (PdfExtractor.extract — positional grammar parse with %-escapes
    // and malformed-entry skips, gap segmentation, reference reading
    // order) over constructed fixed-geometry layouts; the oracle
    // concatenates the expected reading-ordered text directly from the
    // word indices (QueryFixtures.pdfLayoutRow documents the geometry
    // and the closed-form cut sequence).
    "p4_pdf_layout" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id").as[Long]
        .map(d => graft.data.QueryFixtures.pdfLayoutRow(d))
        .toDF("doc_id", "text")
        .orderBy($"doc_id")
    }),

    // S2/S3/S4: the REAL distributed pipeline (flatten → dispatch →
    // reassemble, the same Pipeline.extract p1 runs) over a span mix
    // that is pure doc_id arithmetic — so the pipeline's CARDINALITY
    // contract (survivor count, input count, empty-doc row, success)
    // gets a closed-form DuckDB hash gate even though p1's generated
    // span text cannot. Complements p1 (rows+digest) per the contract.
    "p5_pipeline_cardinality" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id").as[Long]
        .map(d => graft.data.QueryFixtures.pipelineDoc(d))
      Pipeline.extract(docs, graft.model.ExtractConfig(partitions = 8))
        .toDF()
        .select($"doc_id", size($"spans").cast("long").as("n_spans"),
          $"spans_in".cast("long").as("spans_in"), $"success")
        .orderBy($"doc_id")
    }),

    // S1/F1/S8/S9/X12/O6/F3: constructed spans routed through the REAL
    // dispatch (image → normalize + media_ref passthrough, unknown kind
    // → whitelist reject to ""), reassembled with the pipeline survivor
    // rule, rendered by all three sinks (markdown / html / plain) and
    // truncated with the context budget — the oracle rebuilds all four
    // strings from the construction arithmetic (escaping, section
    // attributes, image links, truncation branches included).
    "r1_render_sinks" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id").as[Long]
        .map(d => graft.data.QueryFixtures.renderRow(d))
        .toDF("doc_id", "markdown", "html", "plain", "excerpt")
        .orderBy($"doc_id")
    }))

  /** s3's LSH configuration, shared with SimilaritySpec's precondition
    * guard so the expected-miss model asserted there can never
    * desynchronize from what the query actually runs.
    */
  private[graft] val S3MinCos = 0.5
  private[graft] val S3Tables = 48
  private[graft] val S3TargetBucket = 125
  private[graft] val S3MaxBucket = 500
  private[graft] val D4MaxBucket = 500
  // x2 partial-combine block width in doc_id space: ids are unique, so
  // a block holds at most this many docs regardless of corpus size
  private[graft] val X2Block = 4096
  // c1 chunking: 32-token context budget, stride 24 (8-token overlap
  // between consecutive chunks) — small enough that gate docs produce
  // several chunks each, so every branch (single-chunk short docs,
  // overlap interior, short tail window) is exercised
  private[graft] val C1MaxTok = 32
  private[graft] val C1Stride = 24
  // c2 packing: shard width in doc_id space (bounds any one window
  // partition) and the per-sequence token budget
  private[graft] val C2Shard = 4096
  private[graft] val C2Budget = 256
  // m2's two-consumer payload materialization level. MEMORY_AND_DISK
  // (not localCheckpoint) is the 100-TB setting: partitions spill to
  // disk instead of evicting-and-failing, and lost executors recompute
  // from lineage instead of killing the job. Gate-scale runs fit in
  // memory either way, so the choice is free here and explicit for
  // cluster deployments.
  private[graft] val M2PayloadStorage =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The (doc_id, chunk_idx, n_tok) chunk grid c2/c3 pack from — the
    * withText=false kernel rendition of c1's chunking (one definition
    * so the packers and the chunker can never drift).
    */
  private def chunkGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, tx) =>
        TextFunctions.tokenChunksKernel(tx, C1MaxTok, C1Stride,
            withText = false)
          .map { case (idx, nt, _) => (id, idx, nt) }
      })
      .toDF("doc_id", "chunk_idx", "n_tok")
  }

  /** The exact near-dup pair table shared by d2 (which outputs it) and
    * d5 (which clusters it) — one definition so the two queries and the
    * bench's materialized-pairs timing can never drift apart.
    */
  private[graft] def dupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      n = 3, minJ = 0.5)

  /** Certificate-style fixture text from documents columns (p2/p3):
    * every numeric stays below 1900 — including the product id, which
    * is doc_id mod 1000 so a corpus with >= 1900 docs cannot leak a
    * year-shaped product id in front of the Issued line — so the
    * `annee` year regex can only match the Issued line; moduli
    * 11/7/5/3/13 drop individual fields so validity and completeness
    * take all values.
    */
  private def certText(docId: Column, nChars: Column, lang: Column): Column =
    concat(
      lit("Product: "),
      when(docId % 11 === 0, lit("null"))
        .otherwise(concat(lit("P-"), docId % 1000)),
      when(docId % 7 === 0, lit("")).otherwise(
        concat(lit("\nTotal Lifecycle Carbon: "), nChars % 800, lit(".25"))),
      when(docId % 5 === 0, lit("")).otherwise(
        concat(lit("\nEnergy Consumption: "), nChars % 500, lit(".5"))),
      when(docId % 3 === 0, lit("")).otherwise(
        concat(lit("\nWeight: "), docId % 40 + 1)),
      when(docId % 13 === 0, lit("")).otherwise(
        concat(lit("\nCertified by "), upper(lang), lit(" Labs"))),
      lit("\nIssued "), docId % 30 + 1990)

  /** The exact same construction in DuckDB SQL. */
  private val certSql =
    """'Product: ' || CASE WHEN doc_id % 11 = 0 THEN 'null' ELSE 'P-' || (doc_id % 1000) END
     || CASE WHEN doc_id % 7 = 0 THEN '' ELSE chr(10) || 'Total Lifecycle Carbon: ' || (n_chars % 800) || '.25' END
     || CASE WHEN doc_id % 5 = 0 THEN '' ELSE chr(10) || 'Energy Consumption: ' || (n_chars % 500) || '.5' END
     || CASE WHEN doc_id % 3 = 0 THEN '' ELSE chr(10) || 'Weight: ' || (doc_id % 40 + 1) END
     || CASE WHEN doc_id % 13 = 0 THEN '' ELSE chr(10) || 'Certified by ' || upper(lang) || ' Labs' END
     || chr(10) || 'Issued ' || (doc_id % 30 + 1990)"""

  /** FieldExtract.FieldPatterns re-expressed for DuckDB (same regexes,
    * same trim/blank->null semantics).
    */
  private val fieldSql: Seq[(String, String)] =
    graft.functions.FieldExtract.FieldPatterns.map { case (name, pat) =>
      name -> s"nullif(trim(regexp_extract(text, '$pat', 1)), '')"
    }

  private def validSql(f: String): String =
    s"($f IS NOT NULL AND lower(trim($f)) <> 'null' AND length(trim($f)) > 0)"

  private val norm =
    "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
  private def discRev =
    "CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(10,4)))"

  /** Exact n-gram Jaccard over documents in DuckDB SQL — the oracle for
    * d2 (its own threshold) AND d3 (LSH recall saturates at testdata
    * scale, so the LSH+verify output equals the exact answer).
    */
  private def jaccardOracle(minJ: Double): String =
    s"""WITH toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
           FROM toks WHERE len(t) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM sh)
         SELECT id_a, id_b,
           round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
         FROM pairs
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= $minJ
         ORDER BY id_a, id_b""".stripMargin

  /** Hyperplane + bucket CTEs — exact mirror of
    * Similarity.planeComponent (SplitMix64 finalizer; 64-bit wraparound
    * multiplication done as HUGEINT hi/lo split) and Similarity.bucketOf
    * (list_dot_product accumulates left-to-right, same as the kernel
    * loop — verified bit-identical). Expects a CTE `e(vec_id, v)` with
    * v DOUBLE[]; defines `b(vec_id, v, bucket)`.
    */
  private def bucketCtes(planes: Int, dim: Int): String =
    s"""grid AS (SELECT p, i,
       (p * 4294967296 + i + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z1,
       CAST(xor(CAST(z1 AS UBIGINT), CAST(z1 AS UBIGINT) >> 30) AS HUGEINT) AS x1,
       ((x1 * 484763065) % 18446744073709551616::HUGEINT
         + ((x1 * 3210233709) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS z2,
       CAST(xor(CAST(z2 AS UBIGINT), CAST(z2 AS UBIGINT) >> 27) AS HUGEINT) AS x2,
       ((x2 * 321982955) % 18446744073709551616::HUGEINT
         + ((x2 * 2496678331) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS z3,
       xor(CAST(z3 AS UBIGINT), CAST(z3 AS UBIGINT) >> 31) AS z4,
       CAST(z4 >> 11 AS DOUBLE) / 4503599627370496.0 - 1.0 AS comp
       FROM range($planes) t1(p), range($dim) t2(i)),
     pl AS (SELECT p, list(comp ORDER BY i) AS plane FROM grid GROUP BY p),
     bk AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, plane) >= 0
              THEN CAST(2**p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
            FROM e, pl GROUP BY vec_id),
     b AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id))"""

  private def cosSql(a: String, b: String): String =
    s"round(${cosRawSql(a, b)}, 6)"

  private def cosRawSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b)))"

  /** Exact-Jaccard pair + transitive-closure CTE block shared by the
    * d5 (clusters) and d6 (dedup anti-join) oracles; defines `reach`.
    */
  private def closureCtes: String =
    s"""toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
           FROM toks WHERE len(t) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         cnt AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM cnt
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

  /** Media construction arithmetic shared by the m1 and m2 oracles —
    * one definition so a builder/header change cannot make the two
    * oracles silently disagree (kind rotation + per-kind header size
    * of Media.withPayload's builders).
    */
  private val mediaKindSql =
    """CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav'
              WHEN 3 THEN 'jpeg' WHEN 4 THEN 'tiff' ELSE 'webp' END"""
  private val mediaLenSql =
    """octet_length(encode(text)) +
           CASE doc_id % 6 WHEN 0 THEN 33 WHEN 1 THEN 54 WHEN 2 THEN 44
                WHEN 3 THEN 30 + 3 * (CASE n_chars % 2 WHEN 0 THEN 1 ELSE 3 END)
                WHEN 4 THEN 50 ELSE 30 END"""

  /** FNV-1a 64 over code points as a DuckDB HUGEINT fold — the exact
    * mirror of graft.operators.Dedup.fnv1a64 (d4's signature hash).
    */
  private val fnvSql =
    """CASE WHEN s = '' THEN 14695981039346656037::HUGEINT ELSE list_reduce(
       list_prepend(14695981039346656037::HUGEINT,
         list_transform(string_split(s, ''), c -> unicode(c)::HUGEINT)),
       (acc, c) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(c AS UBIGINT)) AS HUGEINT)
                    * 1099511628211) % 18446744073709551616::HUGEINT) END"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_base_price,
         round(CAST(sum($discRev) AS DOUBLE), 2) AS sum_disc_price,
         round(CAST(sum(CAST(l_discount AS DECIMAL(10,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q2_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-06-01' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",

    "q3_revenue_by_nation" ->
      s"""SELECT r_name, n_name,
         round(CAST(sum($discRev) AS DOUBLE), 2) AS revenue,
         count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q4_topk_orders" ->
      s"""SELECT l_orderkey AS orderkey, o_orderpriority,
         round(CAST(sum($discRev) AS DOUBLE), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, orderkey LIMIT 10""",

    "q5_window_top3" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rk
         FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
               FROM lineitem) WHERE rk <= 3
         ORDER BY l_returnflag, rk""",

    "q6_semi_anti" ->
      """SELECT c_mktsegment,
         count(*) FILTER (WHERE ex) AS n_with_orders,
         count(*) FILTER (WHERE NOT ex) AS n_without_orders
         FROM (SELECT c_mktsegment,
                 EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS ex
               FROM customer)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q7_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q8_events_props" ->
      """SELECT event_type, count(k) AS n_k,
         round(CAST(sum(k) AS DOUBLE) / count(k), 4) AS avg_k
         FROM (SELECT event_type,
                 TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k
               FROM events)
         GROUP BY event_type ORDER BY event_type""",

    "j1_json_extract" ->
      """SELECT event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",

    "j2_json_repair" ->
      """WITH src AS (SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN 'Model refused: NO PARSEABLE OUTPUT (truncated)'
                WHEN event_id % 4 = 0 THEN 'analysis channel stuff<|message|>' || props || chr(10) || '<|end|>'
                WHEN event_id % 4 = 1 THEN 'Sure! Here is the JSON:' || chr(10) || '```json' || chr(10) || props || chr(10) || '```' || chr(10) || 'Hope this helps.'
                WHEN event_id % 4 = 2 THEN 'The result is ' || props || ' as requested.'
                ELSE props END AS t
           FROM events),
         st AS (SELECT event_id, t,
           nullif(regexp_extract(t, '(?s)<\|message\|>\s*(\{.*)', 1), '') AS ch,
           nullif(regexp_extract(t, '(?s)```(?:json)?\s*(\{.*?\})\s*```', 1), '') AS fe
           FROM src),
         sl AS (SELECT event_id, t, fe,
           CASE WHEN ch IS NOT NULL AND strpos(ch, '{') > 0 AND strpos(reverse(ch), '}') > 0
                 AND length(ch) - strpos(reverse(ch), '}') + 1 >= strpos(ch, '{')
                THEN substring(ch, strpos(ch, '{'),
                  length(ch) - strpos(reverse(ch), '}') + 1 - strpos(ch, '{') + 1) END AS chs,
           CASE WHEN strpos(t, '{') > 0 AND strpos(reverse(t), '}') > 0
                 AND length(t) - strpos(reverse(t), '}') + 1 >= strpos(t, '{')
                THEN substring(t, strpos(t, '{'),
                  length(t) - strpos(reverse(t), '}') + 1 - strpos(t, '{') + 1) END AS brs
           FROM st)
         SELECT event_id,
           CASE WHEN chs IS NOT NULL THEN 1 WHEN fe IS NOT NULL THEN 2
                WHEN brs IS NOT NULL THEN 3 ELSE 0 END AS stage,
           TRY_CAST(json_extract_string(coalesce(chs, fe, brs), '$.k') AS INT) AS k
         FROM sl ORDER BY event_id""",

    "t5_clean_response" ->
      """SELECT doc_id, trim(regexp_replace(
           CASE WHEN doc_id % 3 = 0 THEN '<think>' || substring(text, 1, 40) || '</think>' || chr(10) || text
                WHEN doc_id % 3 = 1 THEN text || chr(10) || '<think>post hoc</think>'
                ELSE text END,
           '(?s)<think>.*?</think>', '', 'g')) AS cleaned
         FROM documents ORDER BY doc_id""",

    "x1_markdown_decorate" ->
      """SELECT doc_id,
         CASE WHEN n_chars < 100 THEN '# ' || trim(text) ELSE trim(text) END AS decorated
         FROM documents ORDER BY doc_id""",

    "x4_prompt_template" ->
      """SELECT doc_id,
         replace(replace(replace(replace(replace(
           'Extract {fields} from document {doc_id} (lang={lang}, source={source}):' || chr(10) || '---' || chr(10) || '{excerpt}' || chr(10) || '---',
           '{fields}', 'fabricant, annee, nom_produit'),
           '{doc_id}', coalesce(CAST(doc_id AS VARCHAR), '')),
           '{lang}', coalesce(lang, '')),
           '{source}', coalesce(source, '')),
           '{excerpt}', coalesce(substring(text, 1, 80), '')) AS prompt
         FROM documents ORDER BY doc_id""",

    "x2_combine_by_lang" ->
      s"""SELECT lang, string_agg(nt, chr(10) || chr(10) ORDER BY doc_id) AS combined
         FROM (SELECT lang, doc_id, $norm AS nt FROM documents)
         GROUP BY lang ORDER BY lang""",

    "x3_tolerant_compare" ->
      s"""SELECT o_orderkey,
         (abs(o_totalprice - CAST(rev AS DOUBLE)) < 0.01) AS matched
         FROM orders JOIN
           (SELECT l_orderkey, sum($discRev) AS rev
            FROM lineitem GROUP BY l_orderkey) ON o_orderkey = l_orderkey
         ORDER BY o_orderkey""",

    // x5's oracle predicts each branch score from the construction
    // moduli — independent of any comparator implementation
    "x5_tolerant_score" ->
      """SELECT doc_id,
         round(((CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END)
              + (CASE WHEN doc_id % 5 = 1 THEN 0 ELSE 1 END)
              + (CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END)) / 3.0, 4) AS s_map,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS s_list,
         CAST(CASE WHEN doc_id % 11 = 0 THEN 0.0
              WHEN doc_id % 13 = 0 THEN 1.0
              WHEN doc_id % 11 = 1 THEN 1.0
              WHEN doc_id % 11 = 2 THEN 0.0
              ELSE 1.0 END AS DOUBLE) AS s_scalar
         FROM documents ORDER BY doc_id""",

    "t1_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
         len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
         FROM documents ORDER BY doc_id""",

    // full replay of the chunker: same whitespace split, same window
    // arithmetic, same list slicing — every chunk string must match.
    // The split class spells out Java's ASCII \s ([ \t\n\x0B\f\r]) —
    // RE2's \s EXCLUDES vertical tab, so a bare '\s+' here would
    // tokenize U+000B-bearing text differently from the Spark side.
    // Window constants interpolate from the same C1* vals the query
    // uses, so tuning them cannot silently strand the oracle.
    "c1_token_chunks" ->
      raw"""WITH s AS (
           SELECT doc_id,
             string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS toks
           FROM documents WHERE text IS NOT NULL
         ), n AS (
           SELECT doc_id, toks, len(toks) AS t,
             CASE WHEN len(toks) <= $C1MaxTok THEN 1
                  ELSE CAST(ceil((len(toks) - $C1MaxTok) / $C1Stride.0)
                       AS INT) + 1
             END AS nc
           FROM s
         ), e AS (
           SELECT doc_id, toks, t,
             CAST(unnest(range(nc)) AS INT) AS chunk_idx
           FROM n
         )
         SELECT doc_id, chunk_idx,
           CAST(least($C1MaxTok, t - chunk_idx * $C1Stride) AS INT) AS n_tok,
           array_to_string(toks[chunk_idx * $C1Stride + 1 :
             chunk_idx * $C1Stride + $C1MaxTok], ' ') AS chunk
         FROM e ORDER BY doc_id, chunk_idx""",

    // the same chunk stream, packed: running token count within each
    // doc_id-shard (unique (doc_id, chunk_idx) order makes the window
    // deterministic), sequence id and offset from the pre-chunk total
    "c2_sequence_pack" ->
      raw"""WITH s AS (
           SELECT doc_id,
             string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS toks
           FROM documents WHERE text IS NOT NULL
         ), n AS (
           SELECT doc_id, toks, len(toks) AS t,
             CASE WHEN len(toks) <= $C1MaxTok THEN 1
                  ELSE CAST(ceil((len(toks) - $C1MaxTok) / $C1Stride.0)
                       AS INT) + 1
             END AS nc
           FROM s
         ), e AS (
           SELECT doc_id, t,
             CAST(unnest(range(nc)) AS INT) AS chunk_idx
           FROM n
         ), c AS (
           SELECT doc_id, chunk_idx,
             CAST(least($C1MaxTok, t - chunk_idx * $C1Stride) AS INT) AS n_tok,
             doc_id // $C2Shard AS shard
           FROM e
         ), p AS (
           SELECT doc_id, chunk_idx, n_tok, shard,
             CAST(SUM(n_tok) OVER (PARTITION BY shard
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS BIGINT) AS cum_before
           FROM c
         )
         SELECT doc_id, chunk_idx, n_tok, shard,
           cum_before // $C2Budget AS seq_id,
           cum_before % $C2Budget AS seq_off
         FROM p ORDER BY doc_id, chunk_idx""",

    // c2's chunk stream split at sequence boundaries: one row per
    // (chunk, sequence) part, same window arithmetic, boundary explode
    // replayed with a lateral range()
    "c3_pack_sequences" ->
      raw"""WITH s AS (
           SELECT doc_id,
             string_split_regex(trim(text), '[ \t\n\x0b\f\r]+') AS toks
           FROM documents WHERE text IS NOT NULL
         ), n AS (
           SELECT doc_id, toks, len(toks) AS t,
             CASE WHEN len(toks) <= $C1MaxTok THEN 1
                  ELSE CAST(ceil((len(toks) - $C1MaxTok) / $C1Stride.0)
                       AS INT) + 1
             END AS nc
           FROM s
         ), e AS (
           SELECT doc_id, t,
             CAST(unnest(range(nc)) AS INT) AS chunk_idx
           FROM n
         ), c AS (
           SELECT doc_id, chunk_idx,
             CAST(least($C1MaxTok, t - chunk_idx * $C1Stride) AS INT) AS n_tok,
             doc_id // $C2Shard AS shard
           FROM e
         ), p AS (
           SELECT doc_id, chunk_idx, n_tok, shard,
             CAST(SUM(n_tok) OVER (PARTITION BY shard
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS BIGINT) AS cum_before
           FROM c
         ), q AS (
           SELECT doc_id, chunk_idx, n_tok, shard, cum_before,
             cum_before // $C2Budget AS seq_first,
             (cum_before + n_tok - 1) // $C2Budget AS seq_last
           FROM p
         ), x AS (
           SELECT doc_id, chunk_idx, n_tok, shard, cum_before, seq_first,
             unnest(range(seq_first, seq_last + 1)) AS seq_id
           FROM q
         )
         SELECT doc_id, chunk_idx,
           CAST(seq_id - seq_first AS INT) AS part_idx,
           shard, seq_id,
           greatest(cum_before, seq_id * $C2Budget)
             - seq_id * $C2Budget AS seq_off,
           least(cum_before + n_tok, (seq_id + 1) * $C2Budget)
             - greatest(cum_before, seq_id * $C2Budget) AS take_tok
         FROM x ORDER BY doc_id, chunk_idx, part_idx""",

    "t2_quality" ->
      """SELECT doc_id,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS punct,
         round(
           ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0 / (length(text) + 1))
           * (1 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / (length(text) + 1))
           * least(len(regexp_extract_all(text, '[A-Za-z0-9]+')) / 20.0, 1.0), 4) AS quality
         FROM documents ORDER BY doc_id""",

    "t3_langid" ->
      s"""WITH p AS (SELECT doc_id, ' ' || $norm || ' ' AS pt FROM documents),
         sc AS (SELECT doc_id,
           (CASE WHEN pt LIKE '% the %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% a %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% of %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% and %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% is %' THEN 1 ELSE 0 END) AS s_en,
           (CASE WHEN pt LIKE '% der %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% die %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% das %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% und %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% ist %' THEN 1 ELSE 0 END) AS s_de,
           (CASE WHEN pt LIKE '% le %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% la %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% et %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% est %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% les %' THEN 1 ELSE 0 END) AS s_fr,
           (CASE WHEN pt LIKE '% el %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% los %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% y %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% es %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% una %' THEN 1 ELSE 0 END) AS s_es
           FROM p)
         SELECT doc_id, s_en, s_de, s_fr, s_es,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS guess
         FROM sc ORDER BY doc_id""",

    "t4_fingerprint" ->
      s"""SELECT doc_id, md5($norm) AS fp FROM documents ORDER BY doc_id""",

    // the expensive re-derivation of t7's per-row counters: unnest each
    // gram order and GROUP BY (doc_id, gram) — fine at gate scale,
    // exactly the shuffle the Spark side's single-pass sorted-run
    // aggregate avoids
    "t7_repetition" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         b AS (
           SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist
           FROM toks),
         g2 AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS g
           FROM toks WHERE len(t) >= 2),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         a2 AS (SELECT doc_id, max(c) AS top2 FROM c2 GROUP BY 1),
         g3 AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS g
           FROM toks WHERE len(t) >= 3),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         a3 AS (
           SELECT doc_id, sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS singles
           FROM c3 GROUP BY 1)
         SELECT b.doc_id, CAST(n_tok AS INT) AS n_tok,
           round(CASE WHEN n_tok > 0
             THEN CAST(n_tok - n_dist AS DOUBLE) / n_tok ELSE 0.0 END, 6)
             AS dup_tok_frac,
           round(CASE WHEN n_tok >= 2
             THEN CAST(coalesce(top2, 0) AS DOUBLE) / (n_tok - 1)
             ELSE 0.0 END, 6) AS top2_frac,
           round(CASE WHEN n_tok >= 3
             THEN CAST(n_tok - 2 - coalesce(singles, 0) AS DOUBLE) / (n_tok - 2)
             ELSE 0.0 END, 6) AS dup3_frac
         FROM b LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
         ORDER BY doc_id""",

    // same planted construction, same two regexes (RE2 'g' = Spark's
    // replace-all default), email pass strictly before phone pass
    "t8_pii_redact" ->
      s"""WITH raw AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || doc_id || '@example.com or admin@test.org now'
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || '-' || (doc_id % 90 + 10)
                  ELSE '' END AS raw
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '${TextFunctions.EmailRe}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '${TextFunctions.PhoneRe}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(raw, '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
             '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS redacted
         FROM raw ORDER BY doc_id""",

    // f2: quantile_cont shares percentile's exact definition (rank
    // p*(n-1), two-sided interpolation — see the query-side comment);
    // token count via the same alnum-run class as t1's oracle
    "f2_threshold_calibrate" ->
      """SELECT lang, count(*) AS n,
         quantile_cont(n_chars, 0.5) AS len_p50,
         quantile_cont(n_chars, 0.9) AS len_p90,
         quantile_cont(n_chars, 0.99) AS len_p99,
         quantile_cont(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0.5)
           AS tok_p50,
         quantile_cont(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0.9)
           AS tok_p90
         FROM documents GROUP BY lang ORDER BY lang""",

    // f1: i1's planted-duplicate construction, t3's lang CASE, t2's
    // quality formula, keep-first dedup via the same fp window — then
    // the 4-row funnel by UNION ALL over one aggregate row
    "f1_quality_funnel" ->
      s"""WITH planted AS (
           SELECT d.doc_id,
             CASE WHEN d.doc_id % 8 = 3 AND p.text IS NOT NULL
                  THEN p.text ELSE d.text END AS text
           FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
         padded AS (
           SELECT doc_id, text, md5($norm) AS fp, ' ' || $norm || ' ' AS pt
           FROM planted),
         sc AS (
           SELECT doc_id, fp, text,
             (CASE WHEN pt LIKE '% the %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% a %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% of %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% and %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% is %' THEN 1 ELSE 0 END) AS s_en,
             (CASE WHEN pt LIKE '% der %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% die %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% das %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% und %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% ist %' THEN 1 ELSE 0 END) AS s_de,
             (CASE WHEN pt LIKE '% le %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% la %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% et %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% est %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% les %' THEN 1 ELSE 0 END) AS s_fr,
             (CASE WHEN pt LIKE '% el %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% los %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% y %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% es %' THEN 1 ELSE 0 END) + (CASE WHEN pt LIKE '% una %' THEN 1 ELSE 0 END) AS s_es
           FROM padded),
         fl AS (
           SELECT doc_id, fp,
             (text IS NOT NULL AND length(trim(text)) > 0) AS c1,
             NOT (s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0) AS l,
             (round(
               ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0 / (length(text) + 1))
               * (1 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / (length(text) + 1))
               * least(len(regexp_extract_all(text, '[A-Za-z0-9]+')) / 20.0, 1.0), 4) >= 0.8) AS q
           FROM sc),
         fl2 AS (
           SELECT doc_id, fp, c1, (c1 AND l) AS c2, (c1 AND l AND q) AS c3
           FROM fl),
         fl3 AS (
           SELECT *, (c3 AND doc_id = min(CASE WHEN c3 THEN doc_id END)
             OVER (PARTITION BY fp)) AS c4
           FROM fl2),
         a AS (
           SELECT count(*) AS n0,
             CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
           FROM fl3)
         SELECT 1 AS stage_idx, 'nonempty' AS stage, n0 AS docs_in, n1 AS docs_out FROM a
         UNION ALL SELECT 2, 'lang_ok', n1, n2 FROM a
         UNION ALL SELECT 3, 'quality', n2, n3 FROM a
         UNION ALL SELECT 4, 'unique', n3, n4 FROM a
         ORDER BY stage_idx""",

    // t9: the same LM replayed the flat way — unnest every token,
    // count, join back. Same 6-decimal code-length quantization before
    // the (exact decimal) per-doc sum; ln is natural log in both
    // engines.
    "t9_unigram_logppl" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
           FROM documents),
         dt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         lm AS (SELECT tok, sum(c) AS tf FROM dt GROUP BY 1),
         n AS (SELECT sum(tf) AS n_total FROM lm),
         sc AS (
           SELECT doc_id, c,
             round(-ln(CAST(tf AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
               AS nats
           FROM dt JOIN lm USING (tok) CROSS JOIN n)
         SELECT doc_id, CAST(sum(c) AS INT) AS n_tok,
           round(CAST(sum(CAST(c * nats AS DECIMAL(30,8))) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE), 4) AS nll
         FROM sc GROUP BY doc_id ORDER BY doc_id""",

    // d8: grams with start positions via an index-range unnest; dup set
    // = total occurrences >= 2; coverage = distinct positions under any
    // duplicated start, n positions per start on both sides
    "d8_dup_spans" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         g AS (
           SELECT doc_id, unnest(range(1, len(t) - ${D8Gram - 2})) AS i, t
           FROM toks WHERE len(t) >= $D8Gram),
         g2 AS (
           SELECT doc_id, i - 1 AS s,
             array_to_string(t[i:i + ${D8Gram - 1}], ' ') AS gram
           FROM g),
         dup AS (SELECT gram FROM g2 GROUP BY 1 HAVING count(*) >= 2),
         cov AS (
           SELECT DISTINCT doc_id, unnest(range(s, s + $D8Gram)) AS p
           FROM g2 JOIN dup USING (gram)),
         c AS (SELECT doc_id, count(*) AS dup_tok FROM cov GROUP BY 1),
         base AS (
           SELECT doc_id, CAST(len(t) AS INT) AS n_tok FROM toks)
         SELECT doc_id, n_tok,
           CAST(coalesce(dup_tok, 0) AS BIGINT) AS dup_tok,
           round(CAST(coalesce(dup_tok, 0) AS DOUBLE) / n_tok, 6)
             AS dup_frac
         FROM base LEFT JOIN c USING (doc_id) ORDER BY doc_id""",

    // e2: identical arithmetic, identical op order ((x-mn)*255.0/
    // (mx-mn); mn + code*(mx-mn)/255.0), per-element squared error
    // decimal-cast before the (exact) sum
    "e2_sq8_quantize" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (
           SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
           FROM e),
         d AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
         q AS (
           SELECT vec_id, pos, x, mn, mx,
             CASE WHEN mx > mn
               THEN CAST(round((x - mn) * 255.0 / (mx - mn)) AS INT)
               ELSE 0 END AS code
           FROM x JOIN d USING (pos)),
         r AS (
           SELECT vec_id, pos, code,
             x - (CASE WHEN mx > mn
               THEN mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0
               ELSE mn END) AS ex
           FROM q)
         SELECT vec_id,
           array_to_string(list(CAST(code AS VARCHAR) ORDER BY pos), ',')
             AS codes,
           round(CAST(sum(CAST(ex * ex AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sq_err
         FROM r GROUP BY vec_id ORDER BY vec_id""",

    "d1_exact_dedup" ->
      s"""SELECT md5($norm) AS fp, min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY fp""",

    "d3_minhash_neardups" -> jaccardOracle(0.2),

    // same committed/arrival construction, same normalization. NOT
    // EXISTS, not NOT IN: a left_anti join KEEPS a NULL-fingerprint
    // arrival and IGNORES NULL committed fingerprints, which is
    // NOT EXISTS semantics exactly — NOT IN would return zero rows the
    // moment any committed text were NULL
    "i1_incremental_dedup" ->
      s"""WITH committed AS (
           SELECT md5($norm) AS cfp FROM documents WHERE doc_id % 4 <> 3),
         arrivals AS (
           SELECT d.doc_id,
             CASE WHEN d.doc_id % 8 = 3 THEN p.text ELSE d.text END AS text
           FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
           WHERE d.doc_id % 4 = 3)
         SELECT doc_id, md5($norm) AS fp FROM arrivals
         WHERE NOT EXISTS (
           SELECT 1 FROM committed WHERE cfp = md5($norm))
         ORDER BY doc_id""",

    // full Bloom replay: same committed/arrival construction as i1,
    // m = 32 * count(committed), k = 3 positions from the md5-hex
    // double hash — every arithmetic step is 64-bit-exact, so the
    // filter (a distinct position set) and the probe reproduce
    // bit-for-bit, INCLUDING the false positives bloom_hit reports on
    // non-dup arrivals.
    "b1_bloom_dedup" ->
      s"""WITH cfp AS (
           SELECT md5($norm) AS fp FROM documents WHERE doc_id % 4 <> 3),
         mrow AS (SELECT 32 * count(*) AS m FROM cfp),
         bits AS (
           SELECT DISTINCT
             (CAST(('0x' || substring(fp, 1, 8))::UBIGINT AS BIGINT)
              + j * CAST(('0x' || substring(fp, 9, 8))::UBIGINT AS BIGINT))
             % m AS pos
           FROM cfp, (SELECT unnest(range(3)) AS j), mrow),
         arrivals AS (
           SELECT d.doc_id,
             CASE WHEN d.doc_id % 8 = 3 THEN p.text ELSE d.text END AS text
           FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
           WHERE d.doc_id % 4 = 3),
         afp AS (SELECT doc_id, md5($norm) AS fp FROM arrivals),
         apos AS (
           SELECT doc_id, fp, unnest(list_distinct(list_transform(range(3),
             j -> (CAST(('0x' || substring(fp, 1, 8))::UBIGINT AS BIGINT)
                   + j * CAST(('0x' || substring(fp, 9, 8))::UBIGINT AS BIGINT))
                  % m))) AS pos
           FROM afp, mrow),
         cdup AS (SELECT DISTINCT fp FROM cfp)
         SELECT a.doc_id, a.fp,
           (count(*) = count(b.pos)) AS bloom_hit,
           (count(d.fp) > 0) AS is_dup
         FROM apos a LEFT JOIN bits b ON b.pos = a.pos
                     LEFT JOIN cdup d ON d.fp = a.fp
         GROUP BY a.doc_id, a.fp
         ORDER BY a.doc_id""",

    "d4_simhash_neardups" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         hs AS (
           SELECT doc_id, list_transform(t, s -> $fnvSql) AS hl FROM toks),
         sig AS (
           SELECT doc_id,
             CAST(CASE WHEN raw >= 9223372036854775808::HUGEINT
                  THEN raw - 18446744073709551616::HUGEINT
                  ELSE raw END AS BIGINT) AS sig
           FROM (
             SELECT doc_id, list_sum(list_transform(range(64), b ->
               CASE WHEN list_sum(list_transform(hl, h ->
                      CASE WHEN (CAST(h AS UBIGINT) >> CAST(b AS INT)) & 1 = 1
                           THEN 1 ELSE -1 END)) > 0
                    THEN CAST(2**b AS HUGEINT) ELSE 0::HUGEINT END)) AS raw
             FROM hs))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 4
         ORDER BY id_a, id_b""",

    "d2_ngram_jaccard" -> jaccardOracle(0.5),

    "s1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 3),
         scored AS (
           SELECT query_id, e.vec_id,
             round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(qv, qv)) *
                sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS score
           FROM embeddings e, q WHERE e.vec_id <> query_id),
         ranked AS (
           SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, score, rk FROM ranked WHERE rk <= 10
         ORDER BY query_id, rk""",

    "d5_dup_clusters" ->
      s"""WITH RECURSIVE $closureCtes
         SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         FROM reach GROUP BY a ORDER BY doc_id""",

    "d6_dedup_corpus" ->
      s"""WITH RECURSIVE $closureCtes,
         cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                FROM reach GROUP BY a)
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         ORDER BY doc_id""",

    // same shingle CTEs as the jaccard oracle (n=3, same normalization)
    // split by the bench modulus; n_hits counts DISTINCT shared grams
    // (the sh lists are list_distinct, so a plain count(*) is one)
    "d7_decontaminate" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split($norm, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
           FROM toks WHERE len(t) >= 3),
         bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
         hits AS (
           SELECT ex.doc_id, count(*) AS n_hits
           FROM ex JOIN bg USING (g) GROUP BY ex.doc_id)
         SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
         LEFT JOIN hits h ON h.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    "w2_data_split" -> {
      val thrs = Corpus.cumThresholds(SplitFracs)
      val cases = SplitFracs.init.zip(thrs).map { case ((name, _), t) =>
        s"WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT < $t THEN '$name'"
      }.mkString(" ")
      s"""SELECT doc_id,
           CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         FROM documents ORDER BY doc_id"""
    },

    "w1_corpus_mix" -> {
      val whole = MixWeights.map { case (k, w) =>
        s"WHEN '$k' THEN ${math.floor(w).toInt}" }.mkString(" ")
      val thr = MixWeights.map { case (k, w) =>
        s"WHEN '$k' THEN ${Corpus.fracThreshold(w)}" }.mkString(" ")
      s"""WITH c AS (
           SELECT doc_id, lang,
             (CASE lang $whole ELSE 0 END) +
             (CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                        < (CASE lang $thr ELSE 0 END)
                   THEN 1 ELSE 0 END) AS copies
           FROM documents)
         SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS INT) AS copy
         FROM c WHERE copies > 0 ORDER BY doc_id, copy"""
    },

    "s2_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${bucketCtes(6, 64)},
         q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 3),
         pr AS (SELECT query_id, qv,
                  unnest(list_prepend(qb, list_transform(range(6), fp ->
                    xor(qb, CAST(2**fp AS BIGINT))))) AS bucket FROM q),
         cand AS (SELECT pr.query_id, pr.qv, b.vec_id, b.v
                  FROM pr JOIN b USING (bucket) WHERE b.vec_id <> pr.query_id),
         scored AS (SELECT query_id, vec_id, ${cosSql("qv", "v")} AS score FROM cand),
         ranked AS (SELECT query_id, vec_id, score,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, vec_id) AS rk FROM scored)
         SELECT query_id, vec_id, score, rk FROM ranked WHERE rk <= 10
         ORDER BY query_id, rk""",

    // the FULL IVF path in SQL: same centroid rule, same tie-breaks
    // (cos DESC, then centroid/vector id), same probe width
    "s4_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         ac AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosRawSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e, c),
         a AS (SELECT vec_id, v, cid FROM ac WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, cid
               FROM ac WHERE vec_id < 3 AND rn <= 4),
         cand AS (SELECT q.query_id, q.qv, a.vec_id, a.v
                  FROM q JOIN a USING (cid) WHERE a.vec_id <> q.query_id),
         scored AS (SELECT query_id, vec_id, ${cosSql("qv", "v")} AS score
                    FROM cand),
         ranked AS (SELECT query_id, vec_id, score,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, vec_id) AS rk FROM scored)
         SELECT query_id, vec_id, score, rk FROM ranked WHERE rk <= 10
         ORDER BY query_id, rk""",

    "s3_cosine_neardups" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS score
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.v", "b.v")} >= $S3MinCos
         ORDER BY id_a, id_b""",

    "e1_embedding_norms" ->
      """SELECT vec_id, len(embedding) AS dim,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2
         FROM embeddings ORDER BY vec_id""",

    "m1_media_meta" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         $mediaKindSql AS kind,
         CASE WHEN doc_id % 6 = 2 THEN 0 ELSE n_chars % 640 + 16 END AS width,
         CASE WHEN doc_id % 6 = 2 THEN 0 ELSE n_chars % 480 + 16 END AS height,
         CASE WHEN doc_id % 6 = 0 THEN (CASE n_chars % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)
              WHEN doc_id % 6 = 1 THEN 3
              WHEN doc_id % 6 = 2 THEN n_chars % 2 + 1
              WHEN doc_id % 6 = 3 THEN (CASE n_chars % 2 WHEN 0 THEN 1 ELSE 3 END)
              WHEN doc_id % 6 = 4 THEN n_chars % 3 + 1
              ELSE 3 + n_chars % 2 END AS channels,
         CASE WHEN doc_id % 6 = 2 THEN 8000 + (n_chars % 4) * 8000 ELSE 0 END AS sample_rate,
         $mediaLenSql AS n_bytes
         FROM documents ORDER BY 1""",

    // m2: resized dims = integer aspect-fit of the m1 construction dims
    // (w = n_chars%640+16, h = n_chars%480+16, wav dimensionless);
    // frame count = ceil(ceil(plen/1024)/4) over the original payload
    // length, which is octet_length(text) + the per-kind header size.
    "m2_media_pipeline" ->
      s"""WITH base AS (
           SELECT doc_id,
             (n_chars % 640 + 16) AS w, (n_chars % 480 + 16) AS h,
             $mediaKindSql AS kind,
             $mediaLenSql AS plen
           FROM documents)
         SELECT doc_id, kind,
           CASE WHEN kind = 'wav' THEN 0
                WHEN w <= 64 AND h <= 64 THEN w
                WHEN w >= h THEN 64
                ELSE greatest(1, (w * 64) // h) END AS width,
           CASE WHEN kind = 'wav' THEN 0
                WHEN w <= 64 AND h <= 64 THEN h
                WHEN w >= h THEN greatest(1, (h * 64) // w)
                ELSE 64 END AS height,
           ((plen + 1023) // 1024 + 3) // 4 AS n_frames
         FROM base ORDER BY doc_id""",

    "p2_field_extract" ->
      s"""WITH src AS (SELECT doc_id, $certSql AS text FROM documents),
         f AS (SELECT doc_id,
           ${fieldSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n           ")}
           FROM src)
         SELECT doc_id,
           ${fieldSql.map(_._1).mkString(", ")},
           round(CAST((${fieldSql.map(f => s"CASE WHEN ${validSql(f._1)} THEN 1 ELSE 0 END").mkString(" + ")}) AS DOUBLE) / 6 * 100, 2) AS completeness
         FROM f ORDER BY doc_id""",

    "p3_run_analysis" ->
      s"""WITH src AS (SELECT doc_id, $certSql AS text FROM documents),
         f AS (SELECT doc_id,
           ${fieldSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n           ")},
           round(CAST((${fieldSql.map(f => s"CASE WHEN ${validSql(f._2)} THEN 1 ELSE 0 END").mkString(" + ")}) AS DOUBLE) / 6 * 100, 2) AS compl
           FROM src)
         SELECT count(*) AS n_docs,
           round(avg(CASE WHEN compl >= 50 THEN 1.0 ELSE 0.0 END) * 100, 2) AS success_rate_pct,
           ${fieldSql.map { case (n, _) =>
             s"round(avg(CASE WHEN ${validSql(n)} THEN 1.0 ELSE 0.0 END) * 100, 2) AS hit_$n"
           }.mkString(",\n           ")}
         FROM f""",

    // Analytic mirror of QueryFixtures.zones + Zones.mergeAdjacentText-
    // Zones: chain c of doc d has length ((d+c)%3)+1 with widths
    // 80/90/100 and 10px gaps, so the merged bbox and the area-weighted
    // confidence (areas 4000/4500/5000) are closed-form; the low-
    // confidence zone never appears (F2) and even docs append one
    // figure zone that sorts last (reading order).
    "z1_zone_merge" ->
      """WITH docs AS (SELECT doc_id AS d, (doc_id % 3) + 1 AS k FROM documents),
         cl AS (SELECT d, unnest(range(k)) AS c FROM docs),
         merged AS (
           SELECT d AS doc_id, c::INT AS zone_order,
             (1000 * c)::INT AS x1, 0 AS y1,
             (1000 * c + CASE ((d + c) % 3) + 1
                WHEN 1 THEN 80 WHEN 2 THEN 180 ELSE 290 END)::INT AS x2,
             50 AS y2, 'text' AS zone_type,
             round(CASE ((d + c) % 3) + 1
               WHEN 1 THEN (((d + 7*c) % 50) + 50) / 100.0
               WHEN 2 THEN ((((d + 7*c) % 50) + 50) * 4000.0
                          + (((d + 7*c + 3) % 50) + 50) * 4500.0) / 850000.0
               ELSE ((((d + 7*c) % 50) + 50) * 4000.0
                   + (((d + 7*c + 3) % 50) + 50) * 4500.0
                   + (((d + 7*c + 6) % 50) + 50) * 5000.0) / 1350000.0
             END, 4) AS confidence
           FROM cl),
         figs AS (
           SELECT d AS doc_id, k::INT AS zone_order, 5000 AS x1, 0 AS y1,
             5060 AS x2, 50 AS y2, 'figure' AS zone_type, 0.9 AS confidence
           FROM docs WHERE d % 2 = 0)
         SELECT * FROM merged
         UNION ALL SELECT * FROM figs
         ORDER BY doc_id, zone_order""",

    // Clean-side reconstruction of the t6 noisy text: same index
    // arithmetic over the CLEAN word list (QueryFixtures.CleanWords —
    // keep in sync), numbers pass through untouched, whitespace mess
    // collapses to single spaces / one paragraph break.
    "t6_ocr_normalize" ->
      """WITH w AS (SELECT ['Total','CERTIFICATE','Carbon:','ENVIRONMENTAL',
                           'Model','CO2','Durable','renewable'] AS c)
         SELECT doc_id,
           c[(doc_id % 8)::INT + 1] || ' '
             || (doc_id % 900 + 100) || '.' || (doc_id % 10) || ' '
             || c[((doc_id*3 + 1) % 8)::INT + 1]
             || chr(10) || chr(10)
             || c[((doc_id*5 + 2) % 8)::INT + 1] || ' → '
             || c[((doc_id*7 + 5) % 8)::INT + 1]
             || chr(10) || '1,234.56' AS norm
         FROM documents, w ORDER BY doc_id""",

    // Expected h1 survivors: title, h1, the entity paragraph, and the
    // inline-link paragraph — in document order, markdown headings
    // "# "-prefixed.
    "h1_html_boilerplate" ->
      """WITH w AS (SELECT ['alpha','brick','cloud','delta','eagle',
                           'frost','grape','house'] AS ws),
         b AS (
           SELECT doc_id,
             ws[(doc_id % 8)::INT + 1] AS t0,
             ws[((doc_id*3 + 1) % 8)::INT + 1] AS h,
             ws[((doc_id*5) % 8)::INT + 1] || ' '
               || ws[((doc_id*5 + 1) % 8)::INT + 1] || ' '
               || ws[((doc_id*5 + 2) % 8)::INT + 1] || ' & '
               || ws[((doc_id*5 + 3) % 8)::INT + 1] || ' '
               || ws[((doc_id*5 + 4) % 8)::INT + 1] || ' '
               || ws[((doc_id*5 + 5) % 8)::INT + 1] AS para,
             ws[((doc_id*7) % 8)::INT + 1] || ' '
               || ws[((doc_id*7 + 1) % 8)::INT + 1] || ' '
               || ws[((doc_id*7 + 2) % 8)::INT + 1] || ' '
               || ws[((doc_id*7 + 3) % 8)::INT + 1] AS link_para
           FROM documents, w)
         SELECT doc_id,
           t0 || chr(10) || chr(10) || h || chr(10) || chr(10)
             || para || chr(10) || chr(10) || link_para AS plain,
           '# ' || t0 || chr(10) || chr(10) || '# ' || h || chr(10) || chr(10)
             || para || chr(10) || chr(10) || link_para AS md
         FROM b ORDER BY doc_id""",

    // Expected p4 reading order, straight from the construction: on
    // even docs the XY-cut emits header / left column / right column /
    // footer; on odd docs there is no right column. The escaped footer
    // token renders as "f end".
    "p4_pdf_layout" ->
      """WITH w AS (SELECT ['alpha','brick','cloud','delta','eagle',
                           'frost','grape','house'] AS ws)
         SELECT doc_id,
           ws[(doc_id % 8)::INT + 1]
           || CASE WHEN doc_id % 2 = 0
                THEN ' ' || ws[((doc_id*3 + 1) % 8)::INT + 1] ELSE '' END
           || chr(10) || chr(10)
           || ws[((doc_id*5 + 2) % 8)::INT + 1] || chr(10)
           || ws[((doc_id*5 + 3) % 8)::INT + 1] || chr(10)
           || ws[((doc_id*5 + 4) % 8)::INT + 1]
           || CASE WHEN doc_id % 2 = 0
                THEN chr(10) || chr(10)
                  || ws[((doc_id*7 + 5) % 8)::INT + 1] || chr(10)
                  || ws[((doc_id*7 + 6) % 8)::INT + 1] || chr(10)
                  || ws[((doc_id*7 + 7) % 8)::INT + 1]
                ELSE '' END
           || chr(10) || chr(10) || 'f end' AS text
         FROM documents, w ORDER BY doc_id""",

    // Closed-form cardinality prediction: span j of doc d is kept iff
    // (d+j)%4 in {0,1}; the count of j in [0,n) with (d+j)%4 = a is
    // (n - first + 3) // 4 where first = (a - d%4 + 4) % 4 (non-negative
    // for n >= 0 since first <= 3)
    "p5_pipeline_cardinality" ->
      """WITH p AS (
           SELECT doc_id AS d,
             CASE WHEN doc_id % 29 = 0 THEN 0 ELSE 1 + doc_id % 5 END AS n
           FROM documents)
         SELECT printf('p5-%08d', d) AS doc_id,
           ((n - ((0 - d % 4 + 4) % 4) + 3) // 4
             + (n - ((1 - d % 4 + 4) % 4) + 3) // 4) AS n_spans,
           n AS spans_in,
           TRUE AS success
         FROM p ORDER BY doc_id""",

    // All four r1 sink strings rebuilt from the d%4 construction: the
    // unknown-kind span never renders (F1), the d%4==3 image span
    // normalizes to "" and is dropped (F3), html escapes &<> and splits
    // paragraphs, the excerpt exercises all three truncation branches.
    "r1_render_sinks" ->
      """WITH p AS (
           SELECT doc_id, (doc_id % 4) AS m,
             CASE (doc_id % 4)
               WHEN 0 THEN 'Value one' || chr(10) || chr(10) || 'line2'
               WHEN 1 THEN 'Valuation statement extra'
               WHEN 2 THEN 'Valuation statement'
               ELSE 'Short' END AS a,
             CASE WHEN doc_id % 4 = 3 THEN NULL
               ELSE 'Green & cert <ok>' END AS c
           FROM documents),
         q AS (
           SELECT doc_id, m, a, c,
             CASE WHEN c IS NULL THEN a
               ELSE a || chr(10) || chr(10) || c END AS plain,
             CASE WHEN m = 0 THEN '<p>Value one</p>' || chr(10) || '<p>line2</p>'
               ELSE '<p>' || a || '</p>' END AS pa
           FROM p)
         SELECT doc_id,
           '# ' || doc_id || chr(10) || chr(10)
             || '![image](img://' || doc_id || ')' || chr(10) || chr(10) || a
             || CASE WHEN c IS NULL THEN ''
                  ELSE chr(10) || chr(10) || c END AS markdown,
           '<!DOCTYPE html>' || chr(10)
             || '<html><head><meta charset="utf-8"/><title>' || doc_id
             || '</title></head>' || chr(10) || '<body>' || chr(10)
             || '<article id="' || doc_id || '">' || chr(10)
             || '<section class="span image" data-order="0">'
             || '<div class="media-ref">img://' || doc_id || '</div>'
             || pa || '</section>'
             || CASE WHEN c IS NULL THEN ''
                  ELSE chr(10) || '<section class="span image" data-order="1">'
                    || '<p>Green &amp; cert &lt;ok&gt;</p></section>' END
             || chr(10) || '</article>' || chr(10) || '</body></html>' AS html,
           plain,
           CASE m
             WHEN 0 THEN 'Value one' || chr(10) || chr(10) || 'line2' || chr(10)
             WHEN 1 THEN 'Valuation statement '
             WHEN 2 THEN 'Valuation statement'
             ELSE 'Short' END AS excerpt
         FROM q ORDER BY doc_id""")
}
