package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Training-data ops gates: dedup recovers exactly the planted clusters,
  * ANN variants agree with brute force on their candidate cells,
  * multimodal batched decode is deterministic with real batch shape.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracle whitespace-parity contract: testdata document text carries " +
      "no char where Java isWhitespace and RE2 \\s diverge") {
    // Spark-side word splits use Character.isWhitespace while the DuckDB
    // oracles split on RE2 '\\s+'; the two classes diverge on U+000B,
    // U+001C-001F, and the Unicode space separators (U+1680, U+2000-200A,
    // U+2028/29, U+205F, U+3000). Parity holds because testdata text never
    // contains them — this gate turns that silent assumption into a loud
    // failure on any future testdata regen (round-3 advice #1).
    val divergent = "[\\x0B\\x1C-\\x1F\\u1680\\u2000-\\u200A" +
      "\\u2028\\u2029\\u205F\\u3000]"
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(d))) {
        val n = spark.read.parquet(s"$d/documents.parquet")
          .filter(col("text").rlike(divergent)).count()
        assert(n == 0,
          s"$d has $n doc(s) with Java-vs-RE2 divergent whitespace — " +
            "the \\s+-based oracle mirrors would silently diverge")
      }
    }
  }

  test("dedup_exact recovers exactly the planted duplicate clusters") {
    val rows = SparkEntry.queries("dedup_exact")(spark, dir).collect()
    // doc_id % 11 < 2 over 500 docs, 3 dup keys (doc_id % 3)
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("n_dups")).sum > 80)
  }

  test("dedup_minhash_pairs: planted near-dup clusters fully recovered") {
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 20 planted docs (doc_id % 25 == 0) in 4 tail-variant clusters of 5:
    // all within-cluster pairs (5 choose 2) * 4 = 40 must be candidates
    val clusters = (0L until 500L by 25).groupBy(_ % 4 % 4).map(_._2)
    val expected = for {
      c <- (0 to 3).map(v => (0L until 500L by 25).filter(_ % 4 == v))
      a <- c; b <- c if a < b
    } yield (a, b)
    expected.foreach { p => assert(pairs.contains(p), s"missing pair $p") }
  }

  test("dedup_minhash_pairs: 1000 empty docs do not form a quadratic bucket") {
    import spark.implicits._
    // 1020 docs: all empty except the query's own planted slots
    // (doc_id % 25 == 0, text substituted by nearDupSql regardless of base)
    val tmp = java.nio.file.Files.createTempDirectory("graft_skew").toString
    (0L until 1020L).map(id => (id, "", "en", "synthetic", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, tmp).collect()
    // every emitted pair is planted; no empty-empty pair survives
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) % 25 == 0 && r.getLong(1) % 25 == 0,
        s"empty doc leaked into pair ${r.getLong(0)},${r.getLong(1)}")
    }
  }

  test("dedup_clusters: planted docs form one component PER VARIANT, " +
      "canonical = min id") {
    val rows = SparkEntry.queries("dedup_clusters")(spark, dir).collect()
    val planted = rows.filter(r => r.getLong(0) % 25 == 0)
    // round-5 planting: the variant tag suffixes every base word, so
    // variants share zero shingles — each of the 4 variants is its own
    // component (within-variant J = 1, cross-variant J = 0; the truth
    // that now holds at EVERY scale factor), cluster id = the variant's
    // min doc_id = variant * 25 at sf0.001
    assert(planted.length == 20)
    planted.foreach { r =>
      val variant = (r.getLong(0) / 25) % 4
      assert(r.getLong(1) == variant * 25,
        s"doc ${r.getLong(0)} expected cluster ${variant * 25}, " +
          s"got ${r.getLong(1)}")
    }
    val canon = planted.filter(_.getBoolean(2)).map(_.getLong(0)).sorted.toSeq
    assert(canon == Seq(0L, 25L, 50L, 75L), s"canonical=$canon")
    // every cluster in the output has exactly one canonical, the min id
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid)
      assert(members.count(_.getBoolean(2)) == 1)
    }
  }

  test("ConnectedComponents (large-star/small-star) matches brute-force " +
      "union-find on chains, cliques, a high-degree hub, and pairs") {
    import spark.implicits._
    // deterministic graph mixing shapes: a 40-node chain (deep diameter —
    // the case min-label propagation is slow on), a 12-clique, a hub with
    // 50 spokes (degree skew), isolated pairs, plus duplicate + reversed
    // edges for idempotence
    val chain = (100L until 139L).map(i => (i, i + 1))
    val clique = for (a <- 200L until 212L; b <- a + 1 until 212L) yield (a, b)
    val hub = (301L to 350L).map(i => (300L, i))
    val pairs = Seq((400L, 401L), (402L, 403L))
    val edges = (chain ++ clique ++ hub ++ pairs ++
      chain.map(_.swap) ++ Seq((100L, 101L))).toDF("src", "dst")
    val got = graft.ops.ConnectedComponents.labels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ clique ++ hub ++ pairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"node $k") }
    // each component labeled by its min member
    assert(got(139L) == 100L && got(211L) == 200L && got(350L) == 300L &&
      got(401L) == 400L && got(403L) == 402L)
  }

  test("dedup_embedding_pairs finds exactly the 20 planted twins") {
    val rows = SparkEntry.queries("dedup_embedding_pairs")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 100000L)
      assert(r.getDouble(2) > 0.98)
    }
  }

  test("ann variants: results are a correct subset of brute-force ranking") {
    val brute = SparkEntry.queries("knn_bruteforce")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Seq("ann_lsh_topk", "ann_ivf_topk").foreach { q =>
      val approx = SparkEntry.queries(q)(spark, dir).collect()
      assert(approx.length == 10, q)
      // every approx hit that also appears in the brute top-10 must carry
      // the identical cosine (same math, same rounding)
      approx.foreach { r =>
        brute.get(r.getLong(0)).foreach { c =>
          assert(c == r.getDouble(1), s"$q cosine mismatch for ${r.getLong(0)}")
        }
      }
      // sanity recall: bucketed search keeps some of the true top-10
      val recall = approx.map(_.getLong(0)).count(brute.contains)
      assert(recall >= 1, s"$q recall=$recall")
    }
  }

  test("IVF: trained codebook + multi-probe recall@10 is at least round " +
      "2's naive first-K single-cell recall (the upgrade must not lose " +
      "recall; measured: balanced cells NEED nprobe > 1)") {
    import graft.expr.GraftFunctions._
    val brute = SparkEntry.queries("knn_bruteforce")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // round-2 configuration: first-8 raw vectors as cells, single probe
    def naiveSingleCellRecall: Int = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("emb", col("embedding").cast("array<double>"))
      val naive: Seq[Seq[Double]] = emb.filter(col("vec_id") < 8)
        .orderBy("vec_id").select("emb")
        .collect().map(_.getSeq[Double](0)).toSeq
      val assigned = emb.withColumn("cent_id",
        ivf_assign(col("emb"), typedLit(naive)))
      val q = assigned.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("cent_id").as("q_cent"))
      assigned.filter(col("vec_id") =!= 0).join(broadcast(q),
          col("cent_id") === col("q_cent"))
        .select(col("vec_id"), cosine(col("emb"), col("q_emb")).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).count(brute.contains)
    }
    val trainedRecall = SparkEntry.queries("ann_ivf_topk")(spark, dir)
      .collect().map(_.getLong(0)).count(brute.contains)
    val naiveRecall = naiveSingleCellRecall
    assert(trainedRecall >= naiveRecall,
      s"trained+multiprobe=$trainedRecall < naive=$naiveRecall")
  }

  /** Shared recall-curve harness: 32k synthetic vectors in 64 true
    * clusters, a trained codebook of `kCells` cells, recall@10 and probed
    * fraction per nprobe — used by the k=64 gate and the auto-k gate. */
  private def ivfRecallCurve(kCells: Int, nprobes: Seq[Int])
      : (Map[Int, Double], Map[Int, Double], Int) = {
    import graft.expr.GraftFunctions._
    import spark.implicits._
    val dim = 16
    val nVec = 32768
    val k = kCells
    val rnd = new scala.util.Random(42)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    // 64 true clusters on the unit sphere + per-point gaussian noise —
    // the shape an embedding table actually has (IVF's use case); the
    // codebook size k varies independently (auto-k derives ~181 cells)
    val trueCenters =
      Array.fill(64)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    def point(): Array[Double] = {
      val c = trueCenters(rnd.nextInt(trueCenters.length))
      normalize(Array.tabulate(dim)(d => c(d) + 0.35 * rnd.nextGaussian()))
    }
    val points = Array.fill(nVec)(point())
    val queries = Array.fill(20)(point()) // held out

    // train on a bounded sample (the scale contract: codebook cost is
    // constant w.r.t. table size), assign the full table via the native
    // expression — the same engine path ann_ivf_topk uses
    val codebook = graft.core.KMeans.trainCosine(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(points.take(8192)),
      k = k, iters = 8, seed = 7L)
    val cbLit = typedLit(codebook.map(_.toSeq).toSeq)
    val assignments = points.zipWithIndex
      .map { case (p, i) => (i.toLong, p.toSeq) }.toSeq
      .toDF("vec_id", "emb")
      .withColumn("cent_id", ivf_assign(col("emb"), cbLit))
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val members: Map[Long, Array[Int]] = assignments.toSeq
      .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toArray }

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s // unit vectors: dot == cosine
    }
    def top10(cand: Iterator[Int], q: Array[Double]): Set[Int] =
      cand.map(i => (i, cos(points(i), q))).toArray
        .sortBy { case (i, s) => (-s, i) }.take(10).map(_._1).toSet

    val (recallByNp, fracByNp) = {
      val recalls = scala.collection.mutable.Map(nprobes.map(_ -> 0.0): _*)
      val fracs = scala.collection.mutable.Map(nprobes.map(_ -> 0.0): _*)
      queries.foreach { q =>
        val brute = top10(points.indices.iterator, q)
        val ranked = codebook.zipWithIndex
          .map { case (c, i) => (i.toLong, cos(normalize(c), q)) }
          .sortBy { case (i, s) => (-s, i) }.map(_._1)
        nprobes.foreach { np =>
          val cand = ranked.take(np).flatMap(c =>
            members.getOrElse(c, Array.empty[Int]))
          recalls(np) += top10(cand.iterator, q).count(brute).toDouble / 10
          fracs(np) += cand.length.toDouble / nVec
        }
      }
      (recalls.map { case (np, s) => np -> s / queries.length },
        fracs.map { case (np, s) => np -> s / queries.length })
    }
    (recallByNp.toMap, fracByNp.toMap, nVec)
  }

  test("IVF recall curve (k=64, 32k vectors): recall@10 rises " +
      "monotonically with nprobe 1 -> 2 -> 4 while the probed candidate " +
      "fraction tracks nprobe/k") {
    val nprobes = Seq(1, 2, 4)
    val k = 64
    val (recallByNp, fracByNp, _) = ivfRecallCurve(k, nprobes)
    val (r1, r2, r4) = (recallByNp(1), recallByNp(2), recallByNp(4))
    info(f"recall@10: nprobe=1 $r1%.3f, 2 $r2%.3f, 4 $r4%.3f; " +
      f"probed frac: ${fracByNp(1)}%.4f / ${fracByNp(2)}%.4f / " +
      f"${fracByNp(4)}%.4f")
    // recall rises monotonically with nprobe, strictly overall
    assert(r1 <= r2 && r2 <= r4, s"recall not monotone: $r1 $r2 $r4")
    assert(r4 > r1, s"nprobe=4 gained nothing over 1: $r1 vs $r4")
    assert(r4 >= 0.7, s"nprobe=4 recall too low: $r4")
    // the probed candidate fraction tracks nprobe/k — the whole point of
    // IVF (probe cells are the query's own neighborhood, so they can run
    // slightly above the perfectly-balanced nprobe/k; 1.5x bounds it)
    nprobes.foreach { np =>
      assert(fracByNp(np) <= 1.5 * np.toDouble / k,
        s"nprobe=$np probed ${fracByNp(np)} > 1.5 * $np/$k")
    }
  }

  test("IVF auto-k: k = clamp(sqrt(N), 8, 4096) when the caller passes " +
      "k = 0, and the recall gate holds at the derived k on the " +
      "32k-vector table") {
    // the sizing function itself
    assert(SparkEntry.ivfAutoK(10) == 8) // lower clamp
    assert(SparkEntry.ivfAutoK(32768) == 181)
    assert(SparkEntry.ivfAutoK(1000000000L) == 4096) // upper clamp
    // k = 0 engages auto-k against the real embeddings table: the derived
    // codebook has clamp(sqrt(rows)) cells, all non-degenerate
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val autoCb = SparkEntry.ivfCentroids(spark, dir, k = 0)
    assert(autoCb.size == SparkEntry.ivfAutoK(rows),
      s"auto codebook ${autoCb.size} != ${SparkEntry.ivfAutoK(rows)}")
    assert(autoCb.forall(_.exists(_ != 0.0)), "degenerate zero centroid")
    // recall curve at the k auto-sizing derives for the 32k synth table
    // (181 cells over 64 true clusters): recall still rises with nprobe
    // and the probed fraction still tracks nprobe/k
    val nprobes = Seq(1, 2, 4, 8)
    val kAuto = SparkEntry.ivfAutoK(32768)
    val (recallByNp, fracByNp, _) = ivfRecallCurve(kAuto, nprobes)
    val rs = nprobes.map(recallByNp)
    info(f"auto-k=$kAuto recall@10 by nprobe: " +
      rs.map(r => f"$r%.3f").mkString(" / ") +
      "; frac: " + nprobes.map(np => f"${fracByNp(np)}%.4f").mkString(" / "))
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
      s"recall not monotone at auto-k: $rs")
    assert(rs.last > rs.head, s"nprobe=8 gained nothing: $rs")
    assert(rs.last >= 0.6, s"nprobe=8 recall too low at auto-k: ${rs.last}")
    nprobes.foreach { np =>
      assert(fracByNp(np) <= 1.5 * np.toDouble / kAuto,
        s"nprobe=$np probed ${fracByNp(np)} > 1.5 * $np/$kAuto")
    }
  }

  test("IVF codebook is bit-stable: two trainings return the same " +
      "centroids, for the exhibit k and for auto-k") {
    // Verify dumps one training and each query plan trains again, so the
    // oracle holds only if every call returns the identical codebook
    def bits(cb: Seq[Seq[Double]]) =
      cb.map(_.map(java.lang.Double.doubleToRawLongBits))
    Seq(SparkEntry.IvfK, 0).foreach { k =>
      val first = SparkEntry.ivfCentroids(spark, dir, k)
      val second = SparkEntry.ivfCentroids(spark, dir, k)
      assert(first.nonEmpty && bits(first) == bits(second),
        s"k=$k: two trainings differ")
    }
  }

  test("numDocs reads the current footers: a documents table rewritten in " +
      "place with another row count reports the new count") {
    val d = java.nio.file.Files.createTempDirectory("numdocs").toString
    Seq(40L, 25L).foreach { n =>
      spark.range(n).withColumnRenamed("id", "doc_id")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      assert(SparkEntry.numDocs(spark, d) == n)
    }
  }

  test("multimodal: a decoder returning fewer metas than blobs fails " +
      "loudly instead of misaligning metadata (lazyZip truncation)") {
    import spark.implicits._
    val blobs = (0L until 32L).map(i => graft.ops.MediaBlob(i,
      s"blob-$i".getBytes("UTF-8"))).toDS()
    val thrown = intercept[org.apache.spark.SparkException] {
      graft.ops.Multimodal.extractFeatures(blobs, ShortDecoder, 16).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(thrown).exists(t =>
      t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("metas")), thrown.toString)
  }

  test("multimodal batched decode: deterministic, batch-shaped, framed") {
    val a = SparkEntry.queries("mm_decode_features")(spark, dir).collect()
    val b = SparkEntry.queries("mm_decode_features")(spark, dir).collect()
    assert(a.length == 500)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq) // determinism
    a.take(50).foreach { r =>
      assert(r.getAs[Long]("n_bytes") > 0)
      val d = r.getAs[Long]("duration_ms").toInt
      // the query output flattens frames to scalars (driver-compare-safe)
      val n = r.getAs[Long]("n_frames")
      val first = r.getAs[Long]("first_offset_ms")
      val expect = graft.ops.Multimodal.frameSample(d, 5000).toList
      assert(n == expect.length && n > 0)
      assert(first == expect.head)
    }
    // the full offsets array stays on the Dataset API
    locally {
      import spark.implicits._
      val blobs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "utf-8").as("blob"))
        .as[graft.ops.MediaBlob]
      graft.ops.Multimodal.extractFeatures(blobs).collect().take(50).foreach {
        f =>
          assert(f.frame_offsets_ms.nonEmpty &&
            f.frame_offsets_ms.forall(_ < f.duration_ms))
          assert(f.frame_offsets_ms.toList ==
            graft.ops.Multimodal.frameSample(f.duration_ms, 5000).toList)
      }
    }
    // batch decoder really sees batches (not single rows); counter lives
    // in a JVM-singleton because the closure-serialized decoder is a copy
    BatchProbe.seen.set(0)
    import spark.implicits._
    val blobs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("blob"))
      .as[graft.ops.MediaBlob]
    graft.ops.Multimodal.extractFeatures(blobs, BatchProbe, batchSize = 64)
      .count()
    assert(BatchProbe.seen.get() > 0, "decoder never saw a multi-row batch")
  }
}

/** Buggy decoder: skips one blob per batch instead of throwing. */
object ShortDecoder extends graft.ops.MediaDecoder {
  override def decodeBatch(blobs: Seq[Array[Byte]]): Seq[(Int, Int, Int, Int)] =
    graft.ops.StubDecoder.decodeBatch(blobs.drop(1))
}

/** JVM-singleton probe decoder: counts multi-row batches it receives. */
object BatchProbe extends graft.ops.MediaDecoder {
  val seen = new java.util.concurrent.atomic.AtomicInteger(0)
  override def decodeBatch(blobs: Seq[Array[Byte]]): Seq[(Int, Int, Int, Int)] = {
    if (blobs.length > 1) seen.incrementAndGet()
    graft.ops.StubDecoder.decodeBatch(blobs)
  }
}
