package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-corpus construction operators: deterministic weighted
  * mixing (domain/language reweighting) and benchmark n-gram
  * decontamination — the corpus-shaping passes an LLM data pipeline
  * runs between dedup and sequence packing.
  */
object Corpus {

  /** First 32 bits of md5(id) as an unsigned value in [0, 2^32) — the
    * sampling uniform. Seedless and deterministic: each doc's draw is
    * a pure function of its id, so retries, resume, operator reorder,
    * or repartitioning cannot change the sample (a stateful RNG yields
    * a different corpus per run — unacceptable for reproducible
    * training mixes), and any SQL engine recomputes it closed-form
    * (md5 + hex parse — the driver oracle does exactly that). Pure
    * codegen'd Catalyst (md5/substring/conv): no UDF, no shuffle, and
    * ANSI-safe — no wraparound arithmetic anywhere.
    */
  private[graft] def u32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** floor(frac(w) * 2^32) as an exact long literal — the fractional
    * acceptance threshold. Shared with the SQL-oracle generator so
    * both engines compare the same integer constant (no float in any
    * per-doc decision).
    */
  private[graft] def fracThreshold(w: Double): Long =
    math.floor((w - math.floor(w)) * 4294967296.0).toLong

  /** Deterministic weighted corpus mix: every doc of class c yields
    * floor(w_c) whole copies, plus one more iff u32(id) < frac(w_c) *
    * 2^32 — expected multiplicity exactly w_c with a reproducible
    * per-doc fate. Weights > 1 upsample (whole copies + fractional
    * tail), weights in (0,1) downsample, weight 0 — or a class absent
    * from `weights` — drops the class entirely.
    *
    * Output: (idCol, classCol, copy) with copy = 1..copies, the
    * duplicated rows a downstream packer/shuffler consumes directly.
    *
    * 100-TB shape: a narrow map (two codegen'd CASE chains over the
    * class column) followed by a generator explode — no shuffle, no
    * collected state; the weights ride the plan as literals. The
    * explode multiplies rows by at most ceil(max weight), a bound
    * known before the job runs.
    */
  def weightedMix(docs: DataFrame, idCol: String, classCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.forall(_._2 >= 0), "mix weights must be >= 0")
    val whole = weights.foldLeft(lit(0)) { case (acc, (k, w)) =>
      when(col(classCol) === k, lit(math.floor(w).toInt)).otherwise(acc)
    }
    val thr = weights.foldLeft(lit(0L)) { case (acc, (k, w)) =>
      when(col(classCol) === k, lit(fracThreshold(w))).otherwise(acc)
    }
    docs
      .select(col(idCol), col(classCol),
        (whole + when(u32(col(idCol)) < thr, 1).otherwise(0)).as("copies"))
      .where(col("copies") > 0)
      .withColumn("copy", explode(sequence(lit(1), col("copies"))))
      .drop("copies")
  }

  /** Deterministic train/val/test assignment: a doc's split is a pure
    * function of its id — u32(id) against cumulative integer
    * thresholds — so the SAME doc lands in the SAME split across runs,
    * retries, repartitions, and engines. That invariance is the whole
    * point: a held-out set stays held out for the life of the corpus
    * (a random split re-drawn per run leaks eval docs into training
    * the first time anything is recomputed). Same zero-shuffle,
    * UDF-free codegen'd shape as [[weightedMix]]; the last split takes
    * the id-space remainder so fractions need not divide 2^32 evenly.
    */
  def hashSplit(docs: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2 && splits.forall(_._2 > 0),
      "need >= 2 splits with positive fractions")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val thrs = cumThresholds(splits)
    val u = u32(col(idCol))
    val assigned = splits.init.zip(thrs)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), t), acc) => when(u < t, lit(name)).otherwise(acc)
      }
    docs.select(col(idCol), assigned.as("split"))
  }

  /** Cumulative integer split thresholds (one per non-final split) —
    * shared with the w2 SQL-oracle generator so both engines compare
    * the same exact constants, like [[fracThreshold]] for the mix.
    */
  private[graft] def cumThresholds(splits: Seq[(String, Double)]): Seq[Long] =
    splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(c => math.floor(c * 4294967296.0).toLong)

  /** Benchmark n-gram decontamination: for every corpus doc, the
    * number of DISTINCT word n-grams it shares with the benchmark
    * (eval-set) corpus — training sets are scrubbed of docs carrying
    * eval n-grams so benchmark scores measure generalization, not
    * memorization. Returns (idCol, n_hits, contaminated); callers
    * filter on `!contaminated` — a flag rather than a silent drop, so
    * pipelines can audit WHAT was removed.
    *
    * 100-TB shape: the benchmark side is eval sets — tiny by
    * construction — so its distinct n-gram table is broadcast; the
    * corpus side is ONE tokenize+shingle pass (the same JIT kernel d2
    * uses) joined map-side against the broadcast set, then a map-side-
    * combinable count per doc and a final left join to keep zero-hit
    * docs. No corpus self-join, no shuffle of gram strings (only
    * (doc_id) rows leave the broadcast join), and exact string
    * equality — no hash-collision false positives.
    */
  def contaminationHits(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .mapPartitions(_.flatMap { case (id, ts) =>
        // shingleSet dedups per doc, so the post-join count is the
        // DISTINCT shared-gram count with no extra distinct pass
        Dedup.shingleSet(ts, n).iterator.map(g => (id, g))
      })
      .toDF("doc_id", "g")
    val benchGrams = grams(bench).select("g").distinct()
    val hits = grams(corpus)
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val idType = corpus.schema(idCol).dataType
    corpus.select(col(idCol).cast("string").as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id").cast(idType).as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** CCNet-style unigram log-perplexity (Wenzek et al. 2020 score a
    * Wikipedia KenLM; the corpus-self unigram LM is the reference-free
    * form): per doc, the mean negative log-likelihood in nats/token
    * under the corpus's own unigram distribution. Common boilerplate
    * scores LOW, rare-garbage scores HIGH — pipelines keep a middle
    * band. Returns (doc_id, n_tok, nll).
    *
    * Determinism across engines: each token's code length is QUANTIZED
    * — round(-ln(tf/N), 6) — before the per-doc sum, because ln is the
    * one step libm implementations may differ on by 1 ulp; at 6
    * decimals a cross-engine straddle needs the true value within
    * ~1e-14 of a tie (never at gate scale). The quantized terms then
    * sum EXACTLY (decimal), so partial-agg order cannot matter.
    *
    * 100-TB shape (r06): TWO shuffles, both on bounded keys. The
    * (doc, token) counts collapse INSIDE each document — a narrow typed
    * kernel over the scan (token multiplicity is a per-doc fact, so the
    * corpus-wide (doc_id, tok) exchange the old explode+groupBy form
    * paid was pure waste) — leaving only the token shuffle (the
    * Zipf-bounded vocabulary LM, map-side-combinable) and the final
    * doc_id sum. The corpus token total is ONE broadcast row; the
    * LM-to-doc join is 1:N on the token key, no amplification. The
    * per-doc count table and the LM each feed two consumers, so both
    * ride the shared registry ([[Dedup.caches]] — released by the
    * harnesses between queries) instead of being recomputed per
    * consumer (the before-plan ran the tokenize+explode subtree three
    * times and the LM aggregate twice).
    *
    * Contract: `idCol` must be unique. Token counts collapse per input
    * row, and each row's count × nats term is quantized to
    * decimal(30,8) before the per-id sum. Rows sharing an id are
    * therefore merged after quantization, and the last decimal of their
    * nll can differ from a merge of their (id, token) counts first.
    */
  def unigramNll(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    // dt is NOT cached: it is a pure narrow kernel over the scan (no
    // shuffle anywhere in its lineage), so its two consumers re-run a
    // cheap tokenize pass each — cheaper than writing and reading a
    // corpus-token-sized cache at every scale
    val dt = docs
      .select(col(idCol).cast("string").as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .mapPartitions(_.flatMap { case (id, ts) =>
        if (ts == null) Iterator.empty // null text explodes to no rows
        else {
          val m = new java.util.HashMap[String, Long]()
          ts.foreach(tok => m.merge(tok, 1L, (a, b) => a + b))
          scala.jdk.CollectionConverters
            .IteratorHasAsScala(m.entrySet().iterator()).asScala
            .map(e => (id, e.getKey, e.getValue))
        }
      })
      .toDF("doc_id", "tok", "c")
    val lm = Dedup.caches.materialize(
      dt.groupBy("tok").agg(sum("c").as("tf")))
    val total = lm.agg(sum("tf").as("n_total"))
    dt.join(lm, "tok")
      .crossJoin(broadcast(total))
      .withColumn("nats",
        round(-log(col("tf").cast("double") / col("n_total").cast("double")),
          6))
      .groupBy("doc_id")
      .agg(sum("c").as("nt"),
        sum((col("c") * col("nats")).cast("decimal(30,8)")).as("s"))
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("nt").cast("int").as("n_tok"),
        round(col("s").cast("double") / col("nt").cast("double"), 4)
          .as("nll"))
  }
}
