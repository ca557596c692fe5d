package graft.perfbench

import graft.data.CorpusGen
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness for one workload in one JVM: one client, a closed
  * loop, a `local[nproc]` session. Prints one `PERFBENCH {json}` line
  * with the run's metrics, counts and context; `perfbench/run.py` turns
  * it into the benchmark's result line.
  *
  *   --workload extract-skewed|query-suite
  *   --seed N --seconds S --trace 0|1 --work DIR
  *   [--tables DIR --gen-s X]   generated query tables (query-suite and
  *                              traced runs), and the seconds their
  *                              generation took
  *   [--tiny 1]                 small inputs, for the self-test
  */
final class Harness(val opts: Map[String, String]) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val shufflePartitions: Int = 2 * nproc
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val traced: Boolean = opts("trace") == "1"
  val tiny: Boolean = opts.get("tiny").contains("1")
  val work: String = opts("work")
  val tracer = new Tracer(s"${opts("workload")}-$seed")
  val counters = new Counters
  private var session: SparkSession = _

  def spark: SparkSession = session

  def startSession(cores: Int): SparkSession = {
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session.sparkContext.addSparkListener(counters)
    session
  }

  def restartSession(cores: Int): SparkSession = {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    startSession(cores)
  }
}

object Harness {
  private val SetupRepeats = 3
  private val WarmupJobs = 2
  // a Job's median over three is steady where one slow Job in two is not
  private val MinJobs = 3
  private val MaxQuerySamples = 5

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val h = new Harness(parse(args))
    val heap = new HeapPeak
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val info = ArrayBuffer.empty[(String, String)]
    var attempted = 0L
    var failed = 0L
    Files.createDirectories(Paths.get(h.work))
    val (_, sessionS) = timed(h.startSession(h.nproc))
    info += "session_s" -> f"$sessionS%.3f"

    val smallDocs = 1000L
    val smallGen = CorpusGen.GenConfig(megaEvery = 400, megaSpans = 1000)

    /** Every per-layer metric, whatever the workload: the extraction
      * layers from `x` and its last Job, the query layers from `q`'s
      * `profiled` runs and the results in `resultDir`, and last the
      * scaling probe, which restarts the session at local[1].
      */
    def traceLayers(x: ExtractWorkload)(lastJob: x.JobRun, q: QueryWorkload,
        profiled: Map[String, (Double, Counts)], resultDir: String): Unit = {
      h.tracer.on = true
      val layers = x.layers(lastJob)
      metrics ++= layers ++ q.layers(profiled, resultDir)
      val noopS = layers.collectFirst { case ("pipeline.extract_noop_s", v, _) => v }.get
      metrics += (("pipeline.scaling_1_to_n", x.scaling(noopS), "ratio"))
      h.tracer.on = false
    }

    h.opts("workload") match {
      case "extract-skewed" =>
        // a fused-path majority plus a mega-doc tail on the salted path
        val (docs, gen) =
          if (h.tiny) (smallDocs, smallGen)
          else (20000L, CorpusGen.GenConfig(megaEvery = 5000, megaSpans = 5000))
        val x = new ExtractWorkload(h, docs, gen)
        // set-up: corpus generation (repeated; median), the goldens, and
        // warm-up Jobs (the first one runs cold, ~2.5x slower than a warm one)
        val genS = Stats.median((1 to SetupRepeats).map(_ => timed(x.generate())._2))
        val (_, goldS) = timed(x.writeGoldens())
        val (_, warmS) = timed((1 to WarmupJobs).foreach(_ => x.dropStore(x.runJob())))
        metrics += (("setup_s", sessionS + genS + goldS + warmS, "s"))
        val spans = x.inputSpans()
        info ++= Seq("gen_s" -> f"$genS%.3f", "goldens_s" -> f"$goldS%.3f",
          "warmup_s" -> f"$warmS%.3f",
          "docs" -> docs.toString, "spans" -> spans.toString,
          "mega_every" -> gen.megaEvery.toString, "mega_spans" -> gen.megaSpans.toString,
          "buckets" -> x.Buckets.toString)
        var mismatched, unreconciled = 0L
        var checkSeconds = 0.0

        /** Job runs for `seconds` of Job time, at least `MinJobs`; run i
          * is traced if `traced(i)`. Every run's store is checked against
          * the goldens after the run, outside its time; the last store of
          * each kind is kept, the others dropped.
          */
        def loop(traced: Int => Boolean): Seq[(x.JobRun, Boolean)] = {
          val runs = ArrayBuffer.empty[(x.JobRun, Boolean)]
          var jobNs = 0L
          var i = 0
          while (i < MinJobs || jobNs < h.seconds * 1e9) {
            val t = traced(i)
            i += 1
            attempted += docs
            h.tracer.on = t
            val t0 = System.nanoTime()
            val run =
              try Some(heap.measure(x.runJob()))
              catch {
                case e: Throwable =>
                  System.err.println(s"[perfbench] job run failed: $e")
                  None
              } finally {
                h.tracer.on = false
                jobNs += System.nanoTime() - t0
              }
            run match {
              case Some(r) =>
                val ((bad, gap), checkS) = timed(x.check(r.store))
                checkSeconds += checkS
                mismatched += bad
                unreconciled += gap
                failed += math.min(docs, math.max(docs - r.docsCommitted, bad + gap))
                runs.findLast(_._2 == t).foreach(p => x.dropStore(p._1))
                runs += ((r, t))
              case None => failed += docs
            }
          }
          runs.toSeq
        }
        // a traced run alternates untraced and traced Jobs, so that JIT
        // warm-up falls on both halves alike; end-to-end figures come
        // from the untraced ones
        val all = loop(i => h.traced && i % 2 == 1)
        val runs = all.filterNot(_._2).map(_._1)
        val perS = runs.map(r => r.docsCommitted / r.wallS)
        metrics += (("items_per_s", Stats.median(perS), "1/s"))
        metrics += (("item_geomean_ms",
          Stats.median(runs.map(r => Stats.geomean(r.bucketS) * 1000)), "ms"))
        val p = Stats.supportedPercentile(runs.size)
        info ++= Seq("golden_mismatches" -> mismatched.toString,
          "snapshot_rows_unreconciled" -> unreconciled.toString,
          "job_runs" -> all.size.toString, "check_s" -> f"$checkSeconds%.3f",
          "docs_per_s_samples" -> perS.map(v => f"$v%.1f").mkString(" "),
          "spans_per_s" -> f"${Stats.median(runs.map(r => spans / r.wallS))}%.1f",
          s"job_wall_s_p$p" -> f"${Stats.percentile(runs.map(_.wallS), p)}%.4f")

        if (h.tiny) {
          val (cbad, _) = x.check(x.corruptedCopy(runs.last.store))
          info += "selftest_corrupted_docs_found" -> cbad.toString
        }

        if (h.traced) {
          val on = all.filter(_._2).map(_._1)
          metrics += (("trace.overhead_ratio",
            Stats.median(on.map(_.wallS)) / Stats.median(runs.map(_.wallS)), "ratio"))
          x.dropStore(runs.last)
          // the query layers, on small tables from the seed: a cold pass
          // that writes the results, then one profiled run of each query;
          // neither is checked, so only a throw counts
          val q = new QueryWorkload(h, h.opts("tables"))
          val dir = s"${h.work}/probe-results"
          val threw = q.writeResults(dir).collect { case (n, None) => n }
          val profiled = q.Timed.flatMap(n => q.profile(n).map(n -> _)).toMap
          val lost = (threw ++ q.Timed.filterNot(profiled.contains)).distinct
          attempted += lost.size
          failed += lost.size
          info += "probe_failed" -> lost.mkString(" ")
          traceLayers(x)(on.last, q, profiled, dir)
        }

      case "query-suite" =>
        val tables = h.opts("tables")
        val q = new QueryWorkload(h, tables)
        val resultDir = s"${h.work}/results"
        // set-up: two warm-up passes; the first runs cold and writes the
        // results the oracles check, the second goes to the noop sink
        // (a second s3 run is still ~20% slower than a third)
        val (written, warmS) = timed {
          val w = q.writeResults(resultDir)
          q.Timed.foreach(q.time)
          w
        }
        val threw = written.collect { case (n, None) => n }
        Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"), q.oracleJson)
        metrics += (("setup_s", sessionS + h.opts("gen-s").toDouble + warmS, "s"))
        // the results of the warm-up pass are the checked operations:
        // the oracled ones are checked by run.py, p1 against its goldens
        // here; a timed run below counts only if it throws
        val p1Bad = if (threw.contains("p1_extract_pipeline")) 1L else q.p1Mismatches(resultDir)
        attempted += 1
        if (p1Bad > 0) failed += 1
        info ++= Seq("gen_s" -> h.opts("gen-s"), "warmup_s" -> f"$warmS%.3f",
          "queries_timed" -> q.Timed.mkString(" "),
          "warmup_failed" -> threw.mkString(" "), "p1_mismatched_rows" -> p1Bad.toString,
          "warmup_query_s" -> written.map { case (n, t) => s"$n=${t.fold("-")(v => f"$v%.3f")}" }
            .mkString(" "),
          "result_dir" -> resultDir)

        /** Runs each timed query in turn until it has spent its share of
          * `seconds`, at least once and at most `MaxQuerySamples` times,
          * so that a ~1 s query gets a median of several samples where a
          * ~9 s one gets one. The i-th round (counting over all queries)
          * runs the query once per tracing state in `states(i)`, in that
          * order. Keeps each query's last untraced time and counts in
          * `profiled`.
          */
        val profiled = scala.collection.mutable.Map.empty[String, (Double, Counts)]
        def loop(states: Int => Seq[Boolean]): Map[Boolean, Map[String, Seq[Double]]] = {
          val samples = Seq(false, true).map(t =>
            t -> q.Timed.map(_ -> ArrayBuffer.empty[Double]).toMap).toMap
          val share = h.seconds / q.Timed.size
          var i = 0
          q.Timed.foreach { name =>
            var spent = 0.0
            var rounds = 0
            while (rounds == 0 || (spent < share && rounds < MaxQuerySamples)) {
              states(i).foreach { t =>
                h.tracer.on = t
                try heap.measure(q.profile(name)) match {
                  case Some((s, c)) =>
                    samples(t)(name) += s
                    spent += s
                    if (!t) profiled(name) = (s, c)
                  case None => attempted += 1; failed += 1
                } finally h.tracer.on = false
              }
              i += 1
              rounds += 1
            }
          }
          samples.map { case (t, m) => t -> m.map { case (k, v) => k -> v.toSeq } }
        }
        def perQuery(s: Map[String, Seq[Double]]): Seq[Double] = {
          require(s.values.forall(_.nonEmpty), "a timed query never completed")
          q.Timed.map(n => Stats.median(s(n)))
        }
        // a traced run times each query untraced and traced, the order
        // alternating from round to round; end-to-end figures come from
        // the untraced runs
        val all = loop(i =>
          if (!h.traced) Seq(false)
          else if (i % 2 == 0) Seq(false, true) else Seq(true, false))
        val times = perQuery(all(false))
        metrics += (("items_per_s", times.size / times.sum, "1/s"))
        metrics += (("item_geomean_ms", Stats.geomean(times) * 1000, "ms"))
        info ++= Seq("query_suite_s" -> f"${times.sum}%.4f",
          "samples" -> q.Timed.map(n => all(false)(n).size).mkString(" ")) ++
          q.Timed.map(n => s"samples_s.$n" -> all(false)(n).map(v => f"$v%.3f").mkString(" ")) ++
          q.Timed.zip(times).map { case (n, s) => s"t.$n" -> f"$s%.4f" }

        if (h.traced) {
          metrics += (("trace.overhead_ratio", perQuery(all(true)).sum / times.sum, "ratio"))
          // the extraction layers, on a small corpus from the seed
          val x = new ExtractWorkload(h, smallDocs, smallGen)
          x.generate()
          traceLayers(x)(x.runJob(), q, profiled.toMap, resultDir)
        }

      case other => sys.error(s"unknown workload $other")
    }

    val (heapPeak, heapGcs) = heap.peak()
    metrics += (("heap_peak_mb", heapPeak / 1048576.0, "MB"))
    info += "heap_gcs" -> heapGcs.toString
    if (h.traced) {
      metrics ++= h.tracer.selfSeconds.toSeq.sorted.map { case (n, s) =>
        (s"self_s.$n", s, "s") }
      Files.writeString(Paths.get(s"${h.work}/spans.json"), h.tracer.json)
    }
    h.spark.stop()

    info ++= Seq("nproc" -> h.nproc.toString, "seed" -> h.seed.toString,
      "shuffle_partitions" -> h.shufflePartitions.toString,
      "jvm" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.mkString(" "))
    println("PERFBENCH " + Json(ListMap(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "info" -> ListMap(info.toSeq: _*))))
  }
}
