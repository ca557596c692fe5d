package graft

import graft.data.CorpusGen
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the plans must be the ones we'd want on a
  * 1000-executor cluster, not merely correct:
  *   - filters/column pruning reach the parquet scan,
  *   - small dimension joins broadcast,
  *   - the fused extraction path contains NO shuffle,
  *   - extraction expressions stay inside WholeStageCodegen.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q2: predicate pushdown + column pruning reach the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // pruned read schema: only the 5 needed columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q3: small dimensions broadcast, not shuffled") {
    val p = plan("q3_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  private def countExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("fused extraction path adds zero shuffles beyond the heavy branch") {
    import spark.implicits._
    def docs = spark.range(0, 10).mapPartitions(_.map(i =>
      CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input))
    val all = Pipeline.extract(docs,
      ExtractConfig(partitions = 4, saltThreshold = Int.MaxValue))
    val heavyBranchOnly = Pipeline.extract(docs,
      ExtractConfig(partitions = 4, saltThreshold = -1))
    val exAll = countExchanges(all.queryExecution.executedPlan.toString)
    val exHeavy = countExchanges(heavyBranchOnly.queryExecution.executedPlan.toString)
    // the light (fused) path contributes no Exchange: plan shuffle count
    // is identical whether all docs are light or all docs are heavy
    assert(exAll == exHeavy,
      s"light path added shuffles: all=$exAll heavyOnly=$exHeavy")
  }

  test("scan-heavy text queries stay in whole-stage codegen") {
    val df = SparkEntry.queries("t2_quality")(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("t6: the native ocr_normalize expression stays in whole-stage codegen") {
    // plan-shape guard: the custom expression must sit inside a codegen
    // stage as a native expression, never as a ScalaUDF. (A doGenCode
    // COMPILE regression would not change this plan string — Spark
    // falls back at runtime — so the hard guard for that is
    // OcrNormalizeSpec's GenerateUnsafeProjection test.)
    val df = SparkEntry.queries("t6_ocr_normalize")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ocr_normalize"), p)
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("s2: probe table broadcasts; corpus-side exchanges stay bounded") {
    val df = SparkEntry.queries("s2_ann_lsh")(spark, dir)
    df.collect() // finalize adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // query probes join the bucketed corpus via broadcast — the corpus
    // itself is never hash-exchanged for the candidate join; the only
    // exchanges are the tiny two-phase top-k merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(countExchanges(p) <= 2, p)
  }

  test("s3: hub-capped near-dup plan — oversize list broadcasts, no cartesian") {
    val df = SparkEntry.queries("s3_cosine_neardups")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the maxBucket re-split joins the (tiny) oversized-bucket list back
    // by broadcast — the banded corpus is never hash-exchanged for it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("s3: pairs are verified in their bucket — no id-pair join, no shuffled candidate relation") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // sf0.01, not sf0.001: at sf0.001 s3 finds no pair, and AQE folds
    // the finished plan into an empty relation that hides its exchanges
    val sf = "/root/testdata/sf0.01"
    val df = SparkEntry.queries("s3_cosine_neardups")(spark, sf)
    val result = df.collect().length
    assert(result > 0)
    val p = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val pairIds = Set("id_a", "id_b")
    def names(es: Seq[Expression]) = es.flatMap(_.references.map(_.name)).toSet
    // vectors ride with the bucket rows: nothing is joined back by id
    val idJoins = helper.collect(p) {
      case j: BaseJoinExec if (names(j.leftKeys ++ j.rightKeys) & pairIds).nonEmpty => j
    }
    assert(idJoins.isEmpty, s"a join keyed on pair ids:\n$p")
    // no exchange carries the candidate pairs: the widest one moves the
    // banded rows (one per vector and table), and the ones keyed on the
    // pair ids move verified pairs only (at most one per table each)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val written = helper.collect(p) { case e: ShuffleExchangeExec =>
      (names(e.outputPartitioning match {
        case h: HashPartitioning => h.expressions
        case _ => Nil
      }), e.metrics("shuffleRecordsWritten").value)
    }
    assert(written.nonEmpty, p.toString)
    written.foreach { case (keys, rows) =>
      assert(rows <= n * SparkEntry.S3Tables,
        s"an exchange moved $rows rows > $n vectors x ${SparkEntry.S3Tables} tables:\n$p")
      if ((keys & pairIds).nonEmpty)
        assert(rows <= result.toLong * SparkEntry.S3Tables,
          s"the pair-id exchange moved $rows rows for $result result pairs:\n$p")
    }
  }

  test("d4: pigeonhole segment join is a hash join, never a cross product") {
    val df = SparkEntry.queries("d4_simhash_neardups")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("s4: IVF probe filters cells before the distance join, no cross product") {
    val df = SparkEntry.queries("s4_ann_ivf")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("d2: prefix-filtered join never degenerates to a cross product") {
    val df = SparkEntry.queries("d2_ngram_jaccard")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("salted path: exactly two exchanges (salt + reassembly)") {
    import spark.implicits._
    val docs = spark.range(0, 10).mapPartitions(_.map(i =>
      CorpusGen.genDoc(CorpusGen.DefaultSeed, i).input))
    val heavyOnly = Pipeline.extract(docs,
      ExtractConfig(partitions = 4, saltThreshold = -1)) // all docs heavy
    val p = heavyOnly.queryExecution.executedPlan.toString
    assert(countExchanges(p) == 2, s"exchanges=${countExchanges(p)}\n$p")
  }

  test("d7: bench grams broadcast; corpus side never self-joins") {
    val df = SparkEntry.queries("d7_decontaminate")(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the eval-gram set rides a broadcast join — at 100 TB the corpus
    // side must not shuffle its gram strings
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("w1: the mix itself is shuffle-free and UDF-free") {
    // the operator alone (no presentation ORDER BY): a narrow map +
    // generator explode must add zero exchanges over the scan
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mixed = graft.operators.Corpus.weightedMix(
      docs, "doc_id", "lang", SparkEntry.MixWeights)
    val p = mixed.queryExecution.executedPlan.toString
    assert(countExchanges(p) == 0, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("t7: repetition scoring is a zero-shuffle narrow projection") {
    // the whole point of the sorted-run aggregate formulation: no
    // per-gram exchange, just scan -> project (-> presentation sort,
    // which is range- not hash-partitioning)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val df = docs.select(col("doc_id"),
      graft.functions.TextFunctions.repetitionStats(col("text")).as("r"))
    val p = df.queryExecution.executedPlan.toString
    assert(countExchanges(p) == 0, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  // an adaptive plan's toString appends "== Initial Plan ==", which
  // duplicates every exchange — count only the final executed section
  private def finalPlan(p: String): String =
    p.split("== Initial Plan ==")(0)

  test("t9: unigram LM joins on bounded keys, no cartesian, no UDF") {
    val df = SparkEntry.queries("t9_unigram_logppl")(spark, dir)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // (doc,tok) distinct-count + vocab LM + tok join + per-doc sum;
    // the corpus-total row rides a 1-row broadcast, never a shuffle
    assert(countExchanges(p) <= 5, p)
  }

  test("d8: substring dedup never self-joins the corpus") {
    val df = SparkEntry.queries("d8_dup_spans")(spark, dir)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(countExchanges(p) <= 6, p)
  }

  test("e2: SQ8 stats ride one broadcast row; encode pass is narrow") {
    val df = SparkEntry.queries("e2_sq8_quantize")(spark, dir)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // dim-stats agg is the ONLY hash exchange; the encode side joins
    // the single stats row via broadcast, so vectors never shuffle
    assert(countExchanges(p) <= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("w2: the split assignment is a zero-shuffle narrow map, no UDF") {
    val df = SparkEntry.queries("w2_data_split")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // only the final orderBy's range exchange may appear — the
    // assignment itself adds no hash exchange over the scan
    assert(countExchanges(p) == 0, p)
  }

  test("f2: quantiles are one bounded-key aggregation, no UDF") {
    val df = SparkEntry.queries("f2_threshold_calibrate")(spark, dir)
    df.collect()
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exact percentile is a TypedImperativeAggregate -> object hash
    // aggregate, partial on the scan side, ONE exchange on lang
    assert(p.contains("ObjectHashAggregate"), p)
    assert(countExchanges(p) <= 1, p)
  }

  test("b1: bloom probe joins on bounded keys; the m row broadcasts") {
    val df = SparkEntry.queries("b1_bloom_dedup")(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    // the filter-sizing row (m) rides a broadcast cross join — never a
    // CartesianProduct — and nothing drops to a UDF
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // every hash exchange carries a bounded key (position < m, 16-byte
    // fp, doc_id) — the arrival construction's self-join, the bits
    // distinct, the pos probe join, the per-doc groupBy, and the
    // ground-truth fp join; document text never shuffles
    assert(countExchanges(p) <= 9, p)
    // the committed fingerprint table is materialized once for its
    // three consumers, not rescanned (the CacheRegistry contract)
    assert(p.contains("InMemoryTableScan"), p)
    graft.operators.Bloom.releaseCaches()
  }

  test("f1: funnel needs only the planted self-join + one fp window shuffle") {
    val df = SparkEntry.queries("f1_quality_funnel")(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // hash exchanges: <= 2 for the doc_id self-join + 1 for the
    // fingerprint window; the final funnel agg is SinglePartition over
    // one row (AQE may broadcast the join side, shrinking the count)
    assert(countExchanges(p) <= 3, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }
}
