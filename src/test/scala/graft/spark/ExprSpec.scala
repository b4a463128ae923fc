package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Expression-layer gates: SQL registration (extensions + registry), null
  * propagation, catalyst schema shape, plan shape (no shuffles in the
  * per-row stages, expressions visible in the plan).
  */
class ExprSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("graft_* functions callable from SQL (extensions-injected)") {
    val r = spark.sql(
      """SELECT graft_langid('the quick brown fox and all of that') AS lid,
        |  graft_word_count('a b c') AS wc,
        |  graft_pii_process('ssn 123-45-6789 here').scrubbed_text AS scrub,
        |  graft_perplexity('the of and to be', 'en') AS ppl,
        |  size(graft_quality_rules('x', 'en')) AS n_rules,
        |  graft_extract_text('  a   b ') AS ext
        |""".stripMargin).head()
    assert(r.getStruct(0).getString(0) == "en")
    assert(r.getLong(1) == 3L)
    assert(r.getString(2) == "ssn [PII:SSN] here")
    assert(r.getDouble(3) > 1.0)
    assert(r.getInt(4) >= 20)
    assert(r.getString(5) == "a b")
  }

  test("null propagation: null text -> null outputs, no crash") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("ok text here")))
      .toDF("id", "text")
    val out = df.select(col("id"),
      graft.expr.GraftFunctions.pii_process(col("text")).as("p"),
      graft.expr.GraftFunctions.langid(col("text")).as("l"),
      graft.expr.GraftFunctions.word_count(col("text")).as("wc"))
      .orderBy("id").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2) && out(0).isNullAt(3))
    assert(!out(1).isNullAt(1))

    // vector expressions: null embedding -> null, and determinism
    val vdf = Seq((1L, Option.empty[Seq[Double]]),
        (2L, Some(Seq(0.5, -0.25, 1.0, 0.125))))
      .toDF("id", "emb")
    val cents = org.apache.spark.sql.functions.typedLit(
      Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    val vout = vdf.select(col("id"),
      graft.expr.GraftFunctions.lsh_project(col("emb")).as("sig"),
      graft.expr.GraftFunctions.ivf_assign(col("emb"), cents).as("cell"))
      .orderBy("id").collect()
    assert(vout(0).isNullAt(1) && vout(0).isNullAt(2))
    assert(!vout(1).isNullAt(1))
    val sig = vout(1).getLong(1)
    assert(sig >= 0 && sig < 65536, s"sig=$sig outside 16 bits")
    // cosine argmax against axis centroids: emb[0]=0.5 vs emb[1]=-0.25
    assert(vout(1).getLong(2) == 0L)
  }

  test("pii schema shape matches SURVEY §1.4 output contract") {
    val df = Seq("call (415) 555-0199 now").toDF("text")
      .select(graft.expr.GraftFunctions.pii_process(col("text")).as("p"))
    val st = df.schema("p").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq ==
      Seq("full_text", "scrubbed_text", "pii_matches", "n_redacted"))
    val m = df.select(explode(col("p.pii_matches")).as("m"))
      .select("m.pii_type", "m.start", "m.end", "m.text").head()
    assert(m.getString(0) == "Phone Number")
    assert(m.getInt(1) == 5 && m.getInt(2) == 19)
  }

  test("pipeline plan is shuffle-free and codegen'd up to the sink") {
    val out = graft.pipeline.QualityPipeline(
      graft.model.PagesSynth.pages(spark, 50, 2))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "per-row pipeline must not shuffle:\n" +
      plan.take(1500))
    // WSCG spans render as "*(n)" in executedPlan.toString; the projects
    // holding CodegenFallback expressions sit outside them by design
    assert(plan.contains("*("), plan.take(1500))
    assert(plan.contains("graft_page_process") || plan.contains("pageprocess"),
      plan.take(1500))
  }

  test("html extraction expression handles binary, string-ish, broken input") {
    val df = Seq(
      ("<html><body><p>hello &amp; world</p><script>x()</script></body>",
        1L),
      ("no tags at all", 2L),
      ("<unclosed", 3L)).toDF("h", "id")
    val out = df.select(col("id"),
      graft.expr.GraftFunctions.html_text(encode(col("h"), "utf-8")).as("t"))
      .orderBy("id").collect()
    assert(out(0).getString(1).contains("hello & world"))
    assert(!out(0).getString(1).contains("x()"))
    assert(out(1).getString(1) == "no tags at all")
    assert(out(2).getString(1) == "")
  }

  test("graft_bounded_ids: exact count, complete list <= cap, hot key " +
    "capped across many partitions, SQL-registered") {
    import graft.expr.GraftFunctions.bounded_ids
    // 3 keys over 16 partitions: a 2-member band, an exactly-64-member
    // band (the gate's boundary — must stay COMPLETE), and a 1000-member
    // hot band (must be trimmed at cap without affecting the count)
    val rows = Seq.tabulate(2)(i => (1L, 100L + i)) ++
      Seq.tabulate(64)(i => (2L, 200L + i)) ++
      Seq.tabulate(1000)(i => (3L, 300L + i))
    val df = spark.createDataFrame(rows).toDF("band", "doc_id")
      .repartition(16)
    val got = df.groupBy("band")
      .agg(count(lit(1)).as("bn"), bounded_ids(col("doc_id"), 65).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2.sorted == (100L to 101L))
    // kept-band invariant: bn <= 64 < cap => list complete regardless of
    // how the 64 rows were split across partial buffers
    assert(got(2L)._1 == 64L && got(2L)._2.sorted == (200L until 264L))
    // hot-key skew guard: exact count, list capped at 65 distinct members
    assert(got(3L)._1 == 1000L && got(3L)._2.length == 65 &&
      got(3L)._2.distinct.length == 65 &&
      got(3L)._2.forall(id => id >= 300L && id < 1300L))
    // registry path (analyzer wraps the bare AggregateFunction)
    val viaSql = spark.createDataFrame(rows).toDF("band", "doc_id")
      .createOrReplaceTempView("bids_t")
    val sq = spark.sql("SELECT band, count(1) bn, " +
      "graft_bounded_ids(doc_id, 65) ids FROM bids_t GROUP BY band")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).length).toMap
    assert(sq(1L) == 2 && sq(2L) == 64 && sq(3L) == 65)
    // the cap must be a constant: a column cap is rejected with the
    // intended error, not an internal "cannot evaluate" failure
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT band, graft_bounded_ids(doc_id, band) ids " +
        "FROM bids_t GROUP BY band").collect()
    }
    assert(e.getMessage.contains("cap must be an integer literal"),
      e.getMessage)
  }

  test("graft_absmax == array_max(transform(abs)) — differential incl. " +
    "empty/null/edge values") {
    val rnd = new scala.util.Random(42)
    val dense: Seq[Option[Seq[Double]]] =
      Seq(None, Some(Seq.empty[Double]), Some(Seq(0.0)), Some(Seq(-0.0)),
        Some(Seq(-1.5, 1.5)), Some(Seq(Double.MinPositiveValue, -1e308)),
        Some(Seq(Double.NegativeInfinity, 3.0))) ++
        Seq.fill(50)(Some(Seq.fill(1 + rnd.nextInt(200))(
          (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(20) - 10))))
    // null elements are skipped; no non-null element gives null
    val withNulls: Seq[Option[Seq[Option[Double]]]] =
      Seq(Some(Seq(None)), Some(Seq(None, None)),
        Some(Seq(None, Some(-2.5), None)), Some(Seq(Some(-0.0), None)),
        Some(Seq(None, Some(Double.NaN), Some(-7.0))))
    val arrays = dense.map(_.map(_.map(Option(_)))) ++ withNulls
    val df = arrays.zipWithIndex
      .map { case (a, i) => (i.toLong, a) }.toDF("id", "emb")
    // the local relation is folded by the interpreted path; the
    // repartitioned frame runs the generated code
    val out = Seq(df, df.repartition(2)).flatMap(_.select(col("id"),
      graft.expr.GraftFunctions.absmax(col("emb")).as("k"),
      array_max(transform(col("emb"), x => abs(x))).as("h"))
      .collect())
    out.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch at ${r.get(0)}")
      if (!r.isNullAt(1))
        assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
          s"value mismatch at ${r.get(0)}: ${r.getDouble(1)} vs " +
            s"${r.getDouble(2)}")
    }
  }

  test("graft_* functions reject a wrong argument count or type at " +
      "analysis, naming the function") {
    val e0 = intercept[IllegalArgumentException](
      spark.sql("SELECT graft_extract_text('a   b', 'zzz')"))
    assert(e0.getMessage == "graft_extract_text takes 1 argument(s), got 2")
    Seq("graft_langid('the quick brown fox', 'de')",
      "graft_cosine(array(1d), array(1d), array(1d))",
      "graft_perplexity('x')",
      "graft_word_count()",
      "graft_quality_rules('x', 'en', 'de')",
      "graft_absmax()",
      "graft_bounded_ids(1)").foreach { call =>
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.startsWith(s"${call.takeWhile(_ != '(')} takes "),
        e.getMessage)
    }
    Seq("graft_html_text(42)", "graft_html_text_safe(42)").foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call").collect())
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      assert(e.getMessage.contains(call.takeWhile(_ != '(')), e.getMessage)
    }
    // the 1-argument form of graft_quality_rules still defaults to 'en'
    val r = spark.sql("SELECT graft_quality_rules('x') = " +
      "graft_quality_rules('x', 'en')").head()
    assert(r.getBoolean(0))
  }

  test("every kernel-table row: interpreted eval == generated code == a " +
      "direct Kernels call, over nulls, blanks, html bytes and arrays") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expr.{GraftKernel, Kernels}

    val vec = ArrayType(DoubleType, containsNull = false)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("html", BinaryType), StructField("a", vec),
      StructField("b", vec),
      StructField("cents", ArrayType(vec, containsNull = false))))
    val page = "<html><body><h1>Title</h1><p>Call 415-555-0199 or mail " +
      "a.b@example.com &amp; more</p><script>x()</script></body></html>"
    val rows = Seq(
      Row(0L, null, null, null, null, null, null),
      Row(1L, "", "en", Array.emptyByteArray, Seq.empty[Double],
        Seq.empty[Double], Seq.empty[Seq[Double]]),
      Row(2L, " \t\n\u00a0\u3000", "de", " \n".getBytes("UTF-8"),
        Seq(0.0), Seq(-0.0), Seq(Seq(0.0))),
      Row(3L, "The quick brown fox jumps over the lazy dog. SSN " +
        "123-45-6789, card 4111 1111 1111 1111, ip 10.0.0.1.", "en",
        page.getBytes("UTF-8"), Seq(0.5, -0.25, 1.0, 0.125),
        Seq(1.0, 2.0, -3.0, 0.5),
        Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))),
      Row(4L, "Der schnelle braune Fuchs springt über den faulen Hund " +
        "und die Katze schläft.", "xx",
        "<p>caf&eacute; &#x1F600; &bogus; &#99999999;</p>".getBytes("UTF-8"),
        Seq(1e-300, 3.0), Seq(2.0), Seq(Seq(-1.0, 0.0), Seq(1.0, 1.0))),
      Row(5L, page, null, "no tags at all".getBytes("UTF-8"),
        Seq.tabulate(64)(i => math.sin(i)), Seq.tabulate(64)(i => math.cos(i)),
        Seq(Seq.tabulate(64)(_.toDouble), Seq.tabulate(64)(i => -i * 0.5))))

    // every row of the table over every column tuple its types accept
    val attrs = schema.fields.toSeq.tail
      .map(f => AttributeReference(f.name, f.dataType)())
    val calls = GraftKernel.table.flatMap { k =>
      k.inputTypes.foldLeft(Seq(Seq.empty[AttributeReference])) { (acc, _) =>
        for (pre <- acc; a <- attrs) yield pre :+ a
      }.filter(GraftKernel(k.name, _).checkInputDataTypes().isSuccess)
        .map(args => (k, args.map(_.name)))
    }
    assert(calls.map(_._1).distinct == GraftKernel.table)

    // the independent leg: each function's kernel named here, not taken
    // from the table
    def str(x: Any) = x.asInstanceOf[UTF8String]
    def arr(x: Any) = x.asInstanceOf[ArrayData]
    val direct: Map[String, Seq[Any] => Any] = Map(
      "graft_extract_text" -> (a => Kernels.extractText(str(a(0)))),
      "graft_pii_extract" -> (a => Kernels.piiExtract(str(a(0)))),
      "graft_pii_process" -> (a => Kernels.piiProcess(str(a(0)))),
      "graft_page_process" -> (a => Kernels.pageProcess(str(a(0)), null)),
      "graft_pii_tokens" -> (a => Kernels.piiTokens(str(a(0)))),
      "graft_langid" -> (a => Kernels.langid(str(a(0)))),
      "graft_perplexity" -> (a => Kernels.perplexity(str(a(0)), str(a(1)))),
      "graft_quality_rules" ->
        (a => Kernels.qualityRules(str(a(0)), str(a(1)))),
      "graft_html_text" -> (a => a(0) match {
        case b: Array[Byte] => Kernels.htmlText(b)
        case t => Kernels.htmlText(str(t))
      }),
      "graft_html_text_safe" -> (a => a(0) match {
        case b: Array[Byte] => Kernels.htmlTextSafe(b)
        case t => Kernels.htmlTextSafe(str(t))
      }),
      "graft_cosine" -> (a => Kernels.cosine(arr(a(0)), arr(a(1)))),
      "graft_shingles" -> (a => Kernels.shingles(str(a(0)))),
      "graft_is_blank" -> (a => Kernels.isBlankText(str(a(0)))),
      "graft_word_count" ->
        (a => graft.core.Tokenizer.wordCount(a(0).toString)),
      "graft_minhash" -> (a => Kernels.minhash(str(a(0)))),
      "graft_lsh_bands" -> (a => Kernels.lshBands(str(a(0)))),
      "graft_simhash" -> (a => graft.core.Dedup.simHash(a(0).toString)),
      "graft_fingerprint" ->
        (a => graft.core.Dedup.fingerprint(a(0).toString, 64)),
      "graft_lsh_project" -> (a => Kernels.lshProject(arr(a(0)))),
      "graft_ivf_assign" -> (a => Kernels.ivfAssign(arr(a(0)), arr(a(1)))),
      "graft_bpe_count" -> (a => graft.core.Bpe.countText(a(0).toString)))
    assert(direct.keySet == GraftKernel.table.map(_.name).toSet)

    def run(wholeStage: Boolean, confs: (String, String)*): Seq[Row] = {
      val session = spark.newSession()
      session.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      confs.foreach { case (k, x) => session.conf.set(k, x) }
      // an RDD source: a local relation would be folded by the optimizer
      val df = session.createDataFrame(
          session.sparkContext.parallelize(rows, 2), schema)
        .selectExpr("id" +: calls.map { case (k, args) =>
          s"${k.name}(${args.mkString(", ")})" }: _*)
      assert(df.queryExecution.executedPlan.toString.contains("*(") ==
        wholeStage)
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    val interpreted = run(wholeStage = false,
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val generated = run(wholeStage = true,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")

    for ((row, i) <- rows.zipWithIndex; ((k, args), j) <- calls.zipWithIndex) {
      val in = args.map(a => CatalystTypeConverters.convertToCatalyst(
        row.get(schema.fieldIndex(a))))
      val want = Row(if (in.contains(null)) null
        else CatalystTypeConverters.convertToScala(direct(k.name)(in),
          k.dataType))
      Seq("interpreted" -> interpreted(i), "generated" -> generated(i))
        .foreach { case (mode, got) =>
          assert(Row(got.get(j + 1)) == want,
            s"$mode ${k.name}(${args.mkString(", ")}) on row $i")
        }
    }
  }
}
