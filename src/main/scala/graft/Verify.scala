package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.oracled query's result → parquet,
  * plus its oracle SQL in oracle_sql.json, for the DuckDB compare
  * (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // all number formatting locale-pinned: a comma-decimal default locale
    // would corrupt any f""-built output downstream
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Side-channel ORACLE INPUTS (not query dumps — kept outside outDir so
    // the driver's per-query compare never sees them): the generator truth
    // table (labels exact by construction) and the trained IVF codebook.
    // Absolute path baked into the SQL so the driver's DuckDB cwd is
    // irrelevant.
    // aux dir keyed BY SF DIR: a shared global path would let a later
    // Verify run (other scale factor) clobber the aux inputs an earlier
    // run's oracle_sql.json points at — truth-table row counts and the
    // codebook would silently mismatch. Stale aux dumps are also deleted
    // FIRST, same invariant as the query dumps below: a failed dump must
    // surface as a MISSING oracle input, never as last run's data.
    def deleteTree(d: java.nio.file.Path): Unit =
      if (Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(d)
        val all = try s.iterator().asScala.toSeq finally s.close()
        all.reverse.foreach(Files.deleteIfExists(_))
      }
    val auxKey = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val auxDir = new java.io.File(s"target/verify_aux/$auxKey").getAbsolutePath
    Seq("pipeline_truth", "ivf_centroids", "ivf_centroids_auto")
      .foreach(sub => deleteTree(Paths.get(auxDir, sub)))
    try graft.model.PagesSynth.truthTable(spark, SparkEntry.synthN(sfDir), 16)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/pipeline_truth")
    catch {
      case e: Throwable =>
        System.err.println(s"[verify] truth-table dump failed: ${e.getMessage}")
    }
    // failure containment: a broken aux dump (e.g. the margin guard
    // firing after a testdata regen) must cost its OWN oracle rows, not
    // zero the whole round by aborting before the 37 query dumps
    // two codebooks: the explicit-k exhibit and the auto-sized k (k = 0
    // -> clamp(sqrt(N), 8, 4096)); each carries the dump-time near-tie
    // guard — Spark's argmax and DuckDB's arg_max do not share float
    // accumulation order, so a vector nearly equidistant to two trained
    // centroids could assign differently per engine (a flaky parity
    // diff, not a data bug). Fail loudly HERE instead. Margins measured:
    // 1e-3 at sf0.01 (both k), 6e-6 / 7e-7 at sf0.1 / sf1 auto-k —
    // orders of magnitude above per-engine float drift (~1e-15).
    Seq("ivf_centroids" -> SparkEntry.IvfK, "ivf_centroids_auto" -> 0)
      .foreach { case (sub, k) =>
        try {
          import spark.implicits._
          val cents = SparkEntry.ivfCentroids(spark, sfDir, k)
          val margin = SparkEntry.ivfMinMargin(spark, sfDir, cents)
          require(margin > 1e-9,
            f"IVF assignment near-tie ($sub): min best-vs-second centroid " +
              f"cosine gap is $margin%.3g (<= 1e-9) — the dumped codebook " +
              "could produce engine-dependent assignments; retrain with a " +
              "different seed/k")
          cents.zipWithIndex
            .map { case (c, i) => (i.toLong, c) }.toDF("cent_id", "cent")
            .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/$sub")
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[verify] IVF codebook dump ($sub) failed: ${e.getMessage}")
        }
      }

    // scale-dependent oracle constant: the near-dup variant count the
    // Spark queries derive from the documents row count — substituted
    // here so the DuckDB side plants the identical clusters at any sf
    val nVar =
      SparkEntry.nearDupVariants(SparkEntry.numDocs(spark, sfDir)).toString
    val oracles = new java.util.LinkedHashMap[String, String]()
    SparkEntry.oracled.foreach { q =>
      // delete any stale dump FIRST: a failing query must show up as a
      // missing result, not silently pass the compare against the parquet
      // a previous run left in the same outDir
      val dest = Paths.get(s"$outDir/${q.name}")
      deleteTree(dest)
      try q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(dest.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      oracles.put(q.name, q.oracle.replace(SparkEntry.AuxDirToken, auxDir)
        .replace(SparkEntry.NVarToken, nVar))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(oracles))
    spark.stop()
  }
}
