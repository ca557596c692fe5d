package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t9/d8/e2 operators: unigram NLL vs a plain-Scala LM oracle,
  * exact-substring coverage on planted corpora, and SQ8 quantization
  * round-trip identities.
  */
class TrainingOpsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  // ---------------------------------------------------------------- t9
  private def normToks(s: String): Seq[String] =
    s.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).toSeq

  private def r(x: Double, d: Int): Double =
    BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("t9: unigram NLL matches a plain-Scala LM oracle") {
    import spark.implicits._
    val texts = Seq(
      "the cat sat on the mat",
      "the dog sat",
      "rare unigram words here",
      "the the the")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Corpus.unigramNll(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(row => (row.getLong(0), row.getInt(1), row.getDouble(2)))

    val all = texts.flatMap(normToks)
    val tf = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toDouble
    val want = texts.zipWithIndex.map { case (t, i) =>
      val toks = normToks(t)
      // same quantization: per-token code length rounded to 6 before sum
      val s = toks.map(tok =>
        BigDecimal(r(-math.log(tf(tok) / n), 6))).sum
      (i.toLong, toks.size, r(s.toDouble / toks.size, 4))
    }
    assert(got.toSeq == want)
  }

  test("t9: common boilerplate scores lower than rare text") {
    import spark.implicits._
    val df = (Seq.fill(20)("common words repeated corpus wide") ++
      Seq("zq xv jkw unique singleton gibberish"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val nll = Corpus.unigramNll(df, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getDouble(2))
    assert(nll(0) < nll(20), s"boilerplate ${nll(0)} vs rare ${nll(20)}")
  }

  // ---------------------------------------------------------------- d8
  test("d8: duplicated-span coverage is exact on a planted corpus") {
    import spark.implicits._
    // n=3: docs 0 and 1 share the 3-gram "b c d" (their only dup);
    // doc 2 repeats "p q r" internally twice (within-doc dup counts);
    // doc 3 is clean. Hand-computed coverage:
    //   doc 0 "a b c d e":       starts {1} -> positions 1..3  -> 3
    //   doc 1 "x b c d y":       starts {1} -> positions 1..3  -> 3
    //   doc 2 "p q r z p q r w": "p q r" at starts {0,4}
    //                            -> positions 0..2 and 4..6    -> 6
    //   doc 3 "k l m n":         0
    val df = Seq(
      (0L, "a b c d e"),
      (1L, "x b c d y"),
      (2L, "p q r z p q r w"),
      (3L, "k l m n"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map(r0 => (r0.getLong(0), r0.getInt(1), r0.getLong(2),
        r0.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 5, 3L, 0.6),
      (1L, 5, 3L, 0.6),
      (2L, 8, 6L, 0.75),
      (3L, 4, 0L, 0.0)))
  }

  test("d8: overlapping dup grams union their positions, not double-count") {
    import spark.implicits._
    // "a b c d" duplicated in full across two docs: with n=3 the dup
    // starts are {0, 1}, covering positions 0..3 = 4 tokens, not 6
    val df = Seq((0L, "a b c d x"), (1L, "y a b c d"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect().map(r0 => r0.getLong(2))
    assert(got.toSeq == Seq(4L, 4L))
  }

  test("d8: docs shorter than n contribute and receive nothing") {
    import spark.implicits._
    val df = Seq((0L, "a b"), (1L, "a b"), (2L, "a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map(r0 => (r0.getLong(0), r0.getInt(1), r0.getLong(2)))
    // the two "a b" docs generate no 3-grams at all
    assert(got.toSeq == Seq((0L, 2, 0L), (1L, 2, 0L), (2L, 3, 0L)))
  }

  test("d8: interval-union sweep equals the explode-distinct count") {
    // r06 rewrote the covered-position count from explode(sequence) →
    // distinct → count into a per-doc interval sweep; pin the operator
    // against the original formulation on the real sf0.001 corpus
    import org.apache.spark.sql.functions._
    val n = graft.SparkEntry.D8Gram
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Dedup.duplicatedSpanStats(docs, "text", "doc_id", n)
      .orderBy("doc_id").collect()
      .map(r0 => (r0.getLong(0), r0.getInt(1), r0.getLong(2), r0.getDouble(3)))
    Dedup.releaseCaches()
    val g = docs.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.orderedGrams(col("text"), n))
        .as(Seq("s", "gram")))
    val dup = g.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("gram")
    val covered = g.join(dup, "gram")
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_tok"))
    val want = docs
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n_tok"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tok"), lit(0L)).as("dup_tok"))
      .withColumn("dup_frac", round(col("dup_tok") / col("n_tok"), 6))
      .orderBy("doc_id").collect()
      .map(r0 => (r0.getLong(0), r0.getInt(1), r0.getLong(2), r0.getDouble(3)))
    assert(got.toSeq == want.toSeq)
    // sanity: the planted exact-dup docs make the signal nonzero
    assert(got.exists(_._3 > 0))
  }

  // ---------------------------------------------------------------- e2
  test("e2: range endpoints code to 0/255 and reconstruct exactly") {
    import spark.implicits._
    val df = Seq((0L, Seq(0.0f, 10.0f)), (1L, Seq(10.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.sq8Quantize(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1), r0.getDouble(2)))
    assert(got.toSeq == Seq((0L, "0,255", 0.0), (1L, "255,0", 0.0)))
  }

  test("e2: constant dimension codes to 0 with zero error") {
    import spark.implicits._
    val df = Seq((0L, Seq(5.0f, 1.0f)), (1L, Seq(5.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.sq8Quantize(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
      .map(r0 => (r0.getString(1), r0.getDouble(2)))
    assert(got.toSeq == Seq(("0,0", 0.0), ("0,255", 0.0)))
  }

  test("e2: per-element reconstruction error bounded by half a step") {
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 50L).map { i =>
      (i, (0 until dim).map(d =>
        (math.sin(i * 31 + d * 7) * 10).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Similarity.sq8Quantize(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
    val mins = (0 until dim).map(d => vecs.map(_._2(d).toDouble).min)
    val maxs = (0 until dim).map(d => vecs.map(_._2(d).toDouble).max)
    val step = (0 until dim).map(d => (maxs(d) - mins(d)) / 255.0)
    // sq_err <= sum over dims of (step/2)^2 (+ rounding slack)
    val bound = step.map(s => s * s / 4.0).sum + 1e-9
    rows.foreach { r0 =>
      assert(r0.getDouble(2) <= bound,
        s"vec ${r0.getLong(0)} err ${r0.getDouble(2)} > $bound")
      val codes = r0.getString(1).split(",").map(_.toInt)
      assert(codes.length == dim && codes.forall(c => c >= 0 && c <= 255))
    }
    // and the codes round-trip within half a step per element
    rows.zip(vecs).foreach { case (r0, (_, v)) =>
      val codes = r0.getString(1).split(",").map(_.toInt)
      (0 until dim).foreach { d =>
        val dq = mins(d) + codes(d) * (maxs(d) - mins(d)) / 255.0
        assert(math.abs(dq - v(d)) <= step(d) / 2 + 1e-12)
      }
    }
  }

  /** sq8Quantize's ORIGINAL Catalyst transform/aggregate formulation,
    * the reference the typed encode kernel must match bit for bit, as
    * (vec_id, codes, sq_err) rows ordered by vec_id.
    */
  private def sq8Hof(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val v = col("embedding").cast("array<double>")
    val stats = df.select(posexplode(v).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("stats"))
    df.crossJoin(broadcast(stats))
      .select(col("vec_id"), v.as("v"), col("stats"))
      .withColumn("enc", transform(col("v"), (x, i) => {
        val st = element_at(col("stats"), i + 1)
        val mn = st.getField("mn")
        val mx = st.getField("mx")
        val code = when(mx > mn,
          round((x - mn) * lit(255.0) / (mx - mn)).cast("int"))
          .otherwise(lit(0))
        val dq = when(mx > mn,
          mn + code.cast("double") * (mx - mn) / lit(255.0)).otherwise(mn)
        struct(code.as("code"), ((x - dq) * (x - dq)).as("se"))
      }))
      .select(col("vec_id"),
        array_join(transform(col("enc"),
          e => e.getField("code").cast("string")), ",").as("codes"),
        round(aggregate(col("enc"), lit(0).cast("decimal(30,10)"),
          (acc, e) => (acc + e.getField("se").cast("decimal(30,10)"))
            .cast("decimal(30,10)"))
          .cast("double"), 6).as("sq_err"))
      .orderBy("vec_id").collect()
      .map(r0 => (r0.getLong(0), Option(r0.getString(1)),
        Option(r0.get(2)).map(_.asInstanceOf[Double])))
      .toSeq
  }

  private def sq8Kernel(df: org.apache.spark.sql.DataFrame) =
    Similarity.sq8Quantize(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
      .map(r0 => (r0.getLong(0), Option(r0.getString(1)),
        Option(r0.get(2)).map(_.asInstanceOf[Double])))
      .toSeq

  test("e2: JIT encode kernel is bit-identical to the Catalyst HOF form") {
    // the r06 optimization moved the encode pass from an interpreted
    // transform/aggregate expression chain into a typed kernel; this
    // pins the kernel against the ORIGINAL HOF formulation (sq8Hof) on
    // the real sf0.001 embeddings — codes string and decimal-summed
    // sq_err must match to the last bit
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val kernel = sq8Kernel(df)
    assert(kernel.forall(r => r._2.isDefined && r._3.isDefined))
    assert(kernel == sq8Hof(df))
  }

  test("e2: null vectors and null elements propagate as in the HOF form") {
    // dim 1 has a range and a null element (its code is dropped), dim 2
    // is constant with a null element (code 0), dim 3 is all null (null
    // stats, code 0); any null element nulls the vector's sq_err
    val df = spark.sql("""SELECT * FROM VALUES
        (0L, CAST(array(1.0, NULL, 3.0, NULL) AS ARRAY<FLOAT>)),
        (1L, CAST(array(2.0, 5.0, NULL, NULL) AS ARRAY<FLOAT>)),
        (2L, CAST(array(4.0, 6.0, 3.0, NULL) AS ARRAY<FLOAT>)),
        (3L, CAST(NULL AS ARRAY<FLOAT>)),
        (4L, CAST(array(4.0, 5.0) AS ARRAY<FLOAT>))
        AS t(vec_id, embedding)""")
    val kernel = sq8Kernel(df)
    assert(kernel == sq8Hof(df))
    assert(kernel.take(4) == Seq(
      (0L, Some("0,0,0"), None),
      (1L, Some("85,0,0,0"), None),
      (2L, Some("255,255,0,0"), None),
      (3L, None, None)))
    assert(kernel(4)._2.contains("255,0") && kernel(4)._3.isDefined)
  }
}
