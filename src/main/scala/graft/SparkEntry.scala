package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Blank, Heuristics, VecMath}
import graft.expr.GraftFunctions
import graft.expr.GraftFunctions._
import graft.io.RootFs
import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** Query contract — one [[SparkEntry.oracled]] record per implemented
  * operator from SURVEY.md §2 (+ the §2.11 graft-mandated stages and the
  * training-data ops layer): its name, its Spark plan and the DuckDB
  * oracle SQL that must return the same rows.
  *
  * Oracle-safety rules used throughout (driver compares sorted-column
  * value hashes): every aggregate/computed column is aliased identically
  * on both sides; integer results are BIGINT on both sides; float results
  * either come from a single arithmetic op on identical inputs (exact) or
  * go through DECIMAL; every query ends in a deterministic ORDER BY on a
  * unique key.
  */
object SparkEntry {

  /** (rowGroups, rows) from the table's footers, read through the
    * session's FileSystem on every call. Throws when the footers are
    * unreadable; Spark's own scan of the table reads the same footers
    * through the same FileSystem. */
  private def parquetFooterStats(s: SparkSession, dir: String,
                                 table: String): (Int, Long) = {
    val io = RootFs(s, dir)
    val p = new Path(s"$dir/$table.parquet")
    val st = io.fs.getFileStatus(p)
    val files =
      if (st.isDirectory) io.list(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(st)
    val stats = files.map { f =>
      val r = ParquetFileReader.open(new InputFile {
        def getLength: Long = f.getLen
        def newStream() = HadoopStreams.wrap(io.fs.open(f.getPath))
      })
      try (r.getRowGroups.size, r.getRecordCount) finally r.close()
    }
    (stats.map(_._1).sum, stats.map(_._2).sum)
  }

  /** Parquet can only split at row-group boundaries, and the testdata
    * tables are single-file single-row-group (DuckDB COPY default), so a
    * bare scan runs EVERY per-row kernel on one core no matter the
    * session parallelism (measured: heuristics_basic at sf1 spent
    * ~2.5 s of single-threaded kernel time inside a local[32] session).
    * The standard fix for an unsplittable input (guide §2.5) is to
    * repartition right after the read — applied ADAPTIVELY from table
    * metadata: only when the file layout's own parallelism (row-group
    * count) cannot feed the session's cores. A real warehouse table has
    * thousands of row groups and takes the no-exchange path; the
    * repartition width is the session's defaultParallelism, never a
    * constant.
    *
    * Repartition-after-read pays off only when the single-task kernel
    * time it parallelizes exceeds the exchange's fixed cost, so the
    * gate is (a) the file layout cannot feed the cores (row-group
    * count), AND (b) at least `minRowsPerCore` rows land on each core
    * after the spread — the threshold encodes the caller's per-row cost
    * class (0 for ms-class rows like pairwise cosine; a few hundred for
    * the 10-100 µs kernel class). Measured at sf0.1: repartitioning the
    * 5k-row table under a 10-100 µs kernel is break-even to slightly
    * negative, while at sf1 (50k rows) it is a 3-6x win — the gate
    * takes the win exactly where it exists. */
  private def scanParallel(s: SparkSession, dir: String, table: String,
                           minRowsPerCore: Long): DataFrame = {
    val df = s.read.parquet(s"$dir/$table.parquet")
    val cores = s.sparkContext.defaultParallelism
    // unreadable footers: assume splittable, with unknown rows, which
    // disables the repartition (never worse than the old plan)
    val (groups, rows) =
      try parquetFooterStats(s, dir, table)
      catch { case NonFatal(_) => (Int.MaxValue, 0L) }
    if (groups < cores && rows >= cores * minRowsPerCore)
      df.repartition(cores)
    else df
  }

  /** Bare scan — for queries whose per-row work is cheap (projections,
    * hashes, metadata math): there the repartition exchange costs more
    * than the single-task scan it parallelizes (measured at sf0.1:
    * +0.15-0.3 s per light query vs -0.5-1.5 s on the heavy ones). The
    * per-row cost class of each operator is static, so the choice is
    * made per query: heavy kernels read through [[docsPar]]/[[embsPar]],
    * light ones through these. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Adaptive parallel scan — for queries dominated by heavy per-row
    * kernels, where a single-row-group file would otherwise pin the
    * kernel to one core (see [[scanParallel]]). `minRowsPerCore`
    * defaults to the 10-100 µs kernel class (PII scan/scrub, quality
    * rules, BPE); pass 0 for ms-class rows (pairwise cosine, banding
    * exhibits) where even a few rows per core amortize the exchange. */
  private def docsPar(s: SparkSession, dir: String,
                      minRowsPerCore: Long = 512L): DataFrame =
    scanParallel(s, dir, "documents", minRowsPerCore)

  private def embsPar(s: SparkSession, dir: String,
                      minRowsPerCore: Long = 0L): DataFrame =
    scanParallel(s, dir, "embeddings", minRowsPerCore)

  /** Size of the synthesized pages table the synth-backed queries use
    * (pipeline_full / langid_pred / perplexity_score); Verify dumps the
    * matching truth table for the DuckDB side. */
  def synthN(dir: String): Long = if (dir.contains("0.001")) 500L else 2000L

  /** Trained IVF coarse codebook: deterministic seeded k-means over a
    * bounded, deterministic sample — the first max(512, 8*k) vec_ids, so
    * the sample scales with the cell count (>= 8 points per cell at
    * auto-k) while staying constant w.r.t. table size (a TABLESAMPLE at
    * warehouse scale). The codebook is an ORACLE INPUT: Verify dumps it,
    * and the DuckDB side verifies assignment + cell-restricted search
    * GIVEN these centroids (the invariant "assigned cell = argmax cosine
    * over trained centroids" from the round-2 verdict). Trained on every
    * call: the seeded k-means over the vec_id-ordered sample is
    * bit-stable, so Verify's dumped codebook and the query plans' agree.
    *
    * `IvfK` / `IvfNProbe` are the EXHIBIT DEFAULTS for the driver query at
    * verify scale, not hard-coded engine constants: [[ivfCentroids]] and
    * [[ivfTopK]] take k / nprobe as arguments (a real deployment sizes
    * k ~ sqrt(N) and tunes nprobe against the recall target — the
    * k=64 / 32k-vector recall-curve gate lives in OpsSpec). */
  final val IvfK = 8
  final val IvfNProbe = 2

  /** Auto-sized IVF cell count for a table of `rows` vectors — the
    * standard k ~ sqrt(N) sizing, clamped to [8, 4096]. Callers pass
    * k = 0 to [[ivfCentroids]]/[[ivfTopK]] to engage it (the verify-scale
    * exhibit keeps the explicit IvfK so the dumped codebook stays the
    * oracle input). */
  def ivfAutoK(rows: Long): Int =
    math.min(4096L, math.max(8L, math.round(math.sqrt(rows.toDouble)))).toInt

  def ivfCentroids(s: SparkSession, dir: String,
                   k: Int = IvfK): Seq[Seq[Double]] = {
    val kEff =
      if (k == 0) ivfAutoK(parquetFooterStats(s, dir, "embeddings")._2)
      else k
    // training sample stays bounded but scales with k (>= 8 points per
    // cell; a fixed 512-row sample would be degenerate at auto-k on a
    // large table) — at warehouse scale this is a TABLESAMPLE either way
    val sampleN = math.max(512, 8 * kEff)
    val sample = embs(s, dir)
      .filter(col("vec_id") < sampleN).orderBy("vec_id")
      .select(col("embedding").cast("array<double>").as("emb"))
      .collect().map(_.getSeq[Double](0).toArray)
    graft.core.KMeans.trainCosine(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(sample),
        k = kEff, iters = 10, seed = 42L)
      .map(_.toSeq).toSeq
  }

  /** Minimum assignment margin (best minus second-best centroid cosine)
    * over every vector in the table — the dump-time guard against
    * cross-engine argmax flips on near-ties: Spark's graft_ivf_assign and
    * DuckDB's arg_max(list_cosine_similarity) do not guarantee identical
    * float accumulation order, so a vector nearly equidistant to two
    * centroids could assign differently on the two sides and produce a
    * confusing parity diff. Verify asserts this margin exceeds an epsilon
    * BEFORE dumping the codebook, failing loudly at dump time instead. */
  def ivfMinMargin(s: SparkSession, dir: String,
                   centroids: Seq[Seq[Double]]): Double = {
    val emb = embs(s, dir)
      .withColumn("emb", col("embedding").cast("array<double>"))
    val cosines = array(centroids.map(c =>
      cosine(col("emb"), typedLit(c))): _*)
    val sorted = sort_array(cosines, asc = false)
    emb.select((element_at(sorted, 1) - element_at(sorted, 2)).as("margin"))
      .agg(min(col("margin"))).head().getDouble(0)
  }

  // The planted inputs below are each ONE SQL text that both engines
  // evaluate: the Spark query through `expr` and the DuckDB oracle inline.
  // Spark 4.1 and DuckDB 1.0 agree on everything they use: `||`
  // (NULL-propagating in both, unlike DuckDB's `concat`, which skips
  // NULLs), `CAST(x AS STRING)`, `CASE x WHEN`, integer `%`.

  /** Deterministic PII-planted text over the documents table, so regex
    * stages can be cross-checked per pattern. */
  private val piiTextSql: String =
    "text || ' Contact: user' || CAST(doc_id AS STRING) || " +
      "'@example.com or (415) 555-' || " +
      "CAST(1000 + doc_id % 9000 AS STRING) || " +
      "'. SSN: ' || CAST(100 + doc_id % 900 AS STRING) || '-' || " +
      "CAST(10 + doc_id % 89 AS STRING) || '-' || " +
      "CAST(1000 + doc_id % 8999 AS STRING) || " +
      "'. Host 10.' || CAST(doc_id % 250 AS STRING) || '.' || " +
      "CAST(doc_id % 100 AS STRING) || '.' || " +
      "CAST(1 + doc_id % 50 AS STRING) || '.'"

  /** Standalone financial-PII text (no base text, so no accidental
    * matches): one card / routing / account / credit-score / rating per
    * doc, token-separated and overlap-free across the five types by
    * construction (digit-group shapes 4-4-4-4 / 9 / 11 / 3 cannot satisfy
    * each other's patterns; verified in the d3 query comment). */
  private val finTextSql: String =
    "'card 4' || CAST(100 + doc_id % 900 AS STRING) || '-1111-2222-' || " +
      "CAST(1000 + doc_id % 9000 AS STRING) || " +
      "' routing ' || CAST(100000000 + doc_id % 900000000 AS STRING) || " +
      "' account ' || CAST(10000000000 + doc_id AS STRING) || " +
      "' credit score: ' || CAST(300 + doc_id % 550 AS STRING) || " +
      "'. credit report: ' || (CASE doc_id % 6 WHEN 0 THEN 'very good' " +
      "WHEN 1 THEN 'good' WHEN 2 THEN 'excellent' WHEN 3 THEN 'fair' " +
      "WHEN 4 THEN 'poor' ELSE 'bad' END) || '.'"

  /** One PII type the oracle counts with its own RE2 regex, written
    * independently of `PiiDetector.patterns`: its engine label, the
    * query's count column, the regex. */
  private final case class MirroredPii(label: String, column: String,
                                       re2: String)

  /** The webtext four, planted by [[piiTextSql]] (d1 counts, d2 rows). */
  private val webPii = Seq(
    MirroredPii("SSN", "n_ssn", "\\d{3}-\\d{2}-\\d{4}"),
    MirroredPii("Email", "n_email",
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"),
    MirroredPii("Phone Number", "n_phone",
      "\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}"),
    MirroredPii("IP Address", "n_ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"))

  /** The financial five, planted by [[finTextSql]] (d3 counts). */
  private val finPii = Seq(
    MirroredPii("Credit Card Number", "n_card",
      "\\b(?:\\d{4}[ -]?){3}\\d{4}\\b"),
    MirroredPii("Routing Number", "n_routing", "\\b\\d{9}\\b"),
    MirroredPii("Account Number", "n_account", "\\b\\d{10,17}\\b"),
    MirroredPii("Credit Score", "n_score", "credit score:\\s*\\d{3}"),
    MirroredPii("Credit Score Rating", "n_rating",
      "credit report:\\s*(very good|good|excellent|fair|poor|bad)"))

  /** Deterministic scrub-oracle text: a fully constructed document whose
    * expected SCRUBBED form is computable in plain SQL — every PII value
    * is a function of doc_id, every token boundary is a single space, so
    * the whole-token mask contract (`[PII:<label>]` per labeled token, a
    * phone spanning two tokens masks both) and the first-match-wins
    * precedence (the 11-digit account must be claimed by Account Number,
    * not Phone) are byte-exactly verifiable by the DuckDB oracle. The
    * benign tails (`ref 12-34 v1.2`) pin the no-false-positive side. */
  private val scrubTextSql: String =
    "concat('record r', cast(doc_id as string), " +
      "' contact user', cast(doc_id as string), " +
      "'@example.com now or dial (415) 555-', " +
      "cast(1000 + doc_id % 9000 as string), " +
      "' quickly. ssn ', cast(100 + doc_id % 900 as string), '-', " +
      "cast(10 + doc_id % 89 as string), '-', " +
      "cast(1000 + doc_id % 8999 as string), " +
      "' ip 10.', cast(doc_id % 250 as string), '.', " +
      "cast(doc_id % 100 as string), '.', cast(1 + doc_id % 50 as string), " +
      "' acct ', cast(10000000000 + doc_id as string), " +
      "' ref 12-34 v1.2 end')"

  private val scrubbedExpectedDuck: String =
    "'record r' || doc_id || ' contact [PII:Email] now or dial " +
      "[PII:Phone Number] [PII:Phone Number] quickly. ssn [PII:SSN] " +
      "ip [PII:IP Address] acct [PII:Account Number] ref 12-34 v1.2 end'"

  /** Deterministic blocklist-marker planting for the toxicity rule:
    * ~2/7 of docs gain known markers (one uppercase, exercising the
    * lowercase path); the oracle recounts from the same construction, so
    * natural occurrences in the base text stay correct on both sides. */
  private val toxTextSql: String =
    "CASE WHEN doc_id % 7 = 0 THEN text || ' viagra casino xxx' " +
      "WHEN doc_id % 7 = 1 THEN text || ' NSFW' ELSE text END"

  /** Deterministic dup/near-dup planting for the dedup operators. */
  private val dupTextSql: String =
    "CASE WHEN doc_id % 11 < 2 THEN 'duplicate cluster ' || " +
      "CAST(doc_id % 3 AS STRING) ELSE text END"

  /** Documents-table row count from the footers — sizes the scale-aware
    * plantings below (and is what a real deployment reads from table
    * metadata). */
  def numDocs(s: SparkSession, dir: String): Long =
    parquetFooterStats(s, dir, "documents")._2

  /** Near-dup variant count, SCALE-AWARE: every 25th doc becomes a shared
    * base paragraph, and the number of distinct variants grows with the
    * table so each planted cluster stays ~50 docs — the dedup pipeline's
    * standing assumption (exact dedup runs first, so no legitimate
    * near-dup bucket exceeds the 64 cap) must hold at EVERY scale factor,
    * not just the one the cap was tuned on. 4 variants up to sf0.1
    * (unchanged exhibit), 40 at sf1, 400 at sf10. */
  def nearDupVariants(nDocs: Long): Int =
    math.max(4L, nDocs / 1250L).toInt

  /** The shared near-dup base paragraph (words only; the variant tag is
    * suffixed onto EVERY word — see below). */
  private val nearDupBaseWords: String =
    "the quick brown fox jumps over the lazy dog while the wise old owl " +
      "watches from the tall oak tree near the quiet river bank every " +
      "single morning of the long warm summer season tail variant"

  /** Near-dup planting over `nVar` variants, as SQL text: Spark passes
    * the count, the oracles pass [[NVarToken]]. The variant index is
    * `floor(doc_id / 25) % nVar` (the planted docs' own ordinal — a plain
    * `doc_id % nVar` only reaches gcd(25, nVar) residues); `floor` comes
    * before the cast because DuckDB's double-to-BIGINT cast rounds.
    *
    * The tag is appended to EVERY word of the base, so different variants
    * share ZERO shingles. A trailing-tag-only construction left
    * cross-variant Jaccard at ~0.94 — above the 0.8 output threshold —
    * which at sf0.01 read as 150 extra true pairs through small buckets,
    * but at sf >= 1 put every planted doc into one shared-shingle band
    * bucket that blows the 64 cap: the brute-force oracle kept emitting
    * the quadratic cross-variant pair set while the capped LSH side
    * (correctly) dropped it. Disjoint variants make the planted truth
    * identical at every scale: within-variant J = 1, cross-variant
    * J = 0.
    *
    * A flat `||` chain of the literal words, not
    * `array_join(transform(split(...)))`: higher-order functions are
    * CodegenFallback expressions in Spark, so the transform form both
    * evaluated interpreted AND pushed the whole projection (including the
    * banding kernel) out of whole-stage codegen for every dedup query. */
  private def nearDupSql(nVar: String): String = {
    val tag = s"CAST(CAST(floor(doc_id / 25) AS BIGINT) % $nVar AS STRING)"
    val pieces = nearDupBaseWords.split(' ').zipWithIndex.map {
      case (w, i) => (if (i == 0) s"'$w'" else s"' $w'") + s" || $tag"
    }.mkString(" || ")
    s"CASE WHEN doc_id % 25 = 0 THEN $pieces ELSE text END"
  }

  /** Placeholder Verify substitutes with the computed variant count. */
  final val NVarToken = "__NVAR__"

  /** DuckDB words of the text expression `t`: the `\s+` split mirrors the
    * Scala Character.isWhitespace word split (a single-space split would
    * silently diverge on multi-line text). */
  private def duckWords(t: String): String =
    s"list_filter(regexp_split_to_array($t, '\\s+'), w -> w <> '')"

  /** CTE chain computing the exact-Jaccard >= 0.8 pair set (`jpairs`) in
    * DuckDB over the near-dup planting of the documents that satisfy
    * `docFilter` — the ground truth of the dedup_minhash_pairs,
    * dedup_clusters and dedup_ngram_jaccard oracles. Mirrors the Spark
    * shingle construction exactly. */
  private def exactJaccardPairsCtes(docFilter: String): String =
    s"w AS (SELECT doc_id, list_transform(" +
      s"${duckWords(nearDupSql(NVarToken))}, x -> lower(x)) AS ws " +
      s"FROM documents WHERE $docFilter), " +
      // empty/whitespace docs carry no shingles on the Spark side (the
      // LSH skew guard) — the oracle excludes them identically
      s"d AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN " +
      s"list_distinct(list_transform(range(0, len(ws) - 2), " +
      s"i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) " +
      s"ELSE [array_to_string(ws, ' ')] END AS sh FROM w " +
      s"WHERE len(ws) > 0), " +
      s"sh AS (SELECT doc_id, unnest(d.sh) AS w FROM d), " +
      s"pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      s"count(*) AS n_inter FROM sh a JOIN sh b ON a.w = b.w " +
      s"AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      s"sizes AS (SELECT doc_id, len(d.sh) AS n FROM d), " +
      s"jpairs AS (SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, " +
      s"CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union " +
      s"FROM pair JOIN sizes sa ON id_a = sa.doc_id " +
      s"JOIN sizes sb ON id_b = sb.doc_id " +
      s"WHERE n_inter * 10 >= (sa.n + sb.n - n_inter) * 8)"

  /** Parameterized IVF ANN search (the `ann_ivf_topk` body): trained
    * codebook of `k` cells, multi-probe over the query's `nprobe` nearest
    * cells, exact-cosine ranking of the probed candidates. The codebook is
    * tiny and ships as a literal — assignment is ONE native expression in
    * the scan projection (no per-row join, no window, no extra shuffle);
    * the probe set is an nprobe-element isin filter. Probe cells are
    * ranked on the driver over the codebook (ties → lowest cell id,
    * mirrored in the oracle). */
  def ivfTopK(s: SparkSession, dir: String, k: Int = IvfK,
              nprobe: Int = IvfNProbe, topK: Int = 10): DataFrame = {
    val emb = embs(s, dir)
      .withColumn("emb", col("embedding").cast("array<double>"))
    val centroids = ivfCentroids(s, dir, k)
    val assigned = emb.withColumn("cent_id",
      ivf_assign(col("emb"), typedLit(centroids)))
    val qVec = emb.filter(col("vec_id") === 0)
      .select("emb").head().getSeq[Double](0).toArray
    // the shared VecMath.cosine: the probe ranking, the graft_cosine /
    // graft_ivf_assign kernels and DuckDB's list_cosine_similarity agree
    // bit-for-bit
    val probes = centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, VecMath.cosine(qVec, c.toArray)) }
      .sortBy { case (i, sim) => (-sim, i) }
      .take(nprobe).map(_._1)
    // the query vector is already on the driver — ship it as a literal
    // instead of a second scan of the embeddings table
    val q = s.range(1).select(typedLit(qVec.toSeq).as("q_emb"))
    assigned.filter(col("vec_id") =!= 0 &&
        col("cent_id").isin(probes: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("emb"), col("q_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(topK)
  }

  /** Shared DuckDB fragments for the heuristics-rule mirrors — ONE copy
    * of each expression, read by the heuristics_basic and quality_score
    * oracles and by [[basicRules]]. */
  private object DuckHeuristics {
    val words = duckWords("text")
    val wc = s"len($words)"
    val totalChars = s"len(array_to_string($words, '')) "
    val symbols = "(len(regexp_extract_all(text, '#')) + " +
      "len(regexp_extract_all(text, '…')) + " +
      "len(regexp_extract_all(text, '\\.\\.\\.')))"
    val alpha = s"len(list_filter($words, w -> regexp_matches(w, '\\p{L}')))"
    val stop = s"len(list_filter(['the','be','to','of','and','that','have'," +
      s"'with'], sw -> list_contains(list_transform($words, w -> lower(w)), sw)))"
    val sent = "len(regexp_extract_all(text, '[.!?。]'))"
    val lorem =
      "CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END"
    val curly = "CASE WHEN contains(text, '{') THEN 1 ELSE 0 END"
  }

  private def rules(c: Column, lang: Column) = quality_rules(c, lang)

  /** Rule index in the lineage array, derived FROM THE ENGINE (a probe
    * evaluation) rather than hard-coded, so the queries cannot drift
    * from the implementation's documented fixed rule order. Round-6
    * rationale: the former name-matching form
    * `filter(rs, r => r("rule") === name)(0)` is a higher-order
    * function — CodegenFallback in Spark — so every rule reference
    * (heuristics_basic has 15) ran an interpreted 26-element scan per
    * row AND pushed the whole projection out of whole-stage codegen;
    * measured 5.2 s → sub-second on the sf1 table for heuristics_basic.
    * `rs[i].field` is a native GetArrayItem/GetStructField chain and
    * selects the same element by the fixed order. */
  private lazy val ruleIdx: Map[String, Int] =
    Heuristics.evaluate("probe text", "en").zipWithIndex
      .map { case (r, i) => r.rule -> i }.toMap

  private def ruleValue(rs: Column, name: String): Column =
    rs.getItem(ruleIdx(name))("value")
  private def ruleFired(rs: Column, name: String): Column =
    rs.getItem(ruleIdx(name))("fired")

  /** How many elements of `types` equal `t`: its size less its size with
    * every `t` removed. Native array functions, because a `filter` lambda
    * is evaluated interpreted, outside whole-stage codegen. */
  private def nOfType(types: Column, t: Column): Column =
    (size(types) - size(array_remove(types, t))).cast("long")

  /** Query `name`: the per-doc match count of each of `types` in the
    * planted text `textSql` (d1 / d3), oracled by recounting each type
    * with its own regex. */
  private def piiCounts(name: String, textSql: String,
                        types: Seq[MirroredPii]): Oracled =
    Oracled(name, types.map(t =>
        s"len(regexp_extract_all($textSql, '${t.re2}')) AS ${t.column}")
        .mkString("SELECT doc_id, ", ", ", " FROM documents ORDER BY doc_id")) {
      (s, dir) =>
        docsPar(s, dir).withColumn("ms", pii_extract(expr(textSql)))
          .select(col("doc_id") +: types.map(t =>
            nOfType(col("ms.pii_type"), lit(t.label)).as(t.column)): _*)
          .orderBy("doc_id")
    }

  /** The ten basic Gopher/C4 rules whose OR drops a page in
    * heuristics_basic and keep_stats: the engine's rule name, and the
    * DuckDB predicate that recomputes its `fired` flag with
    * [[Heuristics]]' thresholds. */
  private val basicRules: Seq[(String, String)] = {
    import DuckHeuristics._
    Seq(
      "word_count_min" -> s"$wc < ${Heuristics.MinWords}",
      "word_count_max" -> s"$wc > ${Heuristics.MaxWords}",
      "mean_word_length_min" -> (s"($wc > 0 AND ($totalChars * 1.0 / $wc) " +
        s"< ${Heuristics.MinMeanWordLen})"),
      "mean_word_length_max" ->
        s"($totalChars * 1.0 / $wc) > ${Heuristics.MaxMeanWordLen}",
      "symbol_to_word_ratio" ->
        s"($symbols * 1.0 / $wc) > ${Heuristics.MaxSymbolWordRatio}",
      "alpha_word_ratio" -> (s"($wc > 0 AND ($alpha * 1.0 / $wc) " +
        s"< ${Heuristics.MinAlphaWordRatio})"),
      "stopword_count" -> s"$stop < ${Heuristics.MinStopwords}",
      "lorem_ipsum" -> s"$lorem > 0",
      "curly_brace" -> s"$curly > 0",
      "min_sentence_count" -> s"$sent < ${Heuristics.MinSentences}")
  }

  /** No basic rule fired: from the lineage `rs` on the Spark side, and
    * recomputed from `text` on the DuckDB side. */
  private def keepBasic(rs: Column): Column =
    !basicRules.map { case (n, _) => ruleFired(rs, n) }.reduce(_ || _)
  private val keepBasicDuck: String =
    basicRules.map(_._2).mkString("NOT (", " OR ", ")")

  /** Flagship: the full quality-filter pipeline over a synthesized pages
    * table at sf0.001 scale; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    QualityPipeline(PagesSynth.pages(spark, 500, 8))
  }

  /** Largest band bucket the near-dup join keeps (see the ordering
    * contract below); the capped member list holds one more id, so a
    * kept band's list is provably complete. */
  private final val MaxBand = 64

  /** The MinHash/LSH near-dup pipeline shared by `dedup_minhash_pairs`
    * and `dedup_clusters`: band join (empty docs emit no bands) →
    * band-bucket size cap → exact shingle-Jaccard ≥ 0.8 confirmation over
    * candidates only. Columns: id_a, id_b, n_inter, n_union.
    *
    * Ordering contract: the bucket cap ([[MaxBand]]) bounds the
    * quadratic band join and assumes EXACT dedup ran first (the standard
    * pipeline order — `dedup_exact` is that stage), so a bucket larger
    * than the cap is pathological boilerplate, not a legitimate
    * duplicate cluster. At the verify/bench scales the largest legitimate
    * bucket is 50 (sf0.1 same-variant planted docs), under the cap. */
  private def minhashConfirmedPairs(s: SparkSession, dir: String): DataFrame = {
    // banding is ~100-200 us/row (shingles + 128 MinHashes): a lower
    // amortization threshold than the default kernel class
    val d = docsPar(s, dir, minRowsPerCore = 64L).withColumn("t",
      expr(nearDupSql(nearDupVariants(numDocs(s, dir)).toString)))
    // Since the single-pass candidate generation below, the band keys
    // have exactly ONE consumer (the count+capped-list aggregation), so
    // the banding kernel is evaluated once per run.
    val bandRows = d.select(col("doc_id"),
      explode(lsh_bands(col("t"))).as("band"))
    // Candidate generation, single-pass (round 6, second pass): ONE
    // aggregation computes both the EXACT bucket size and the capped
    // member list via [[graft.expr.BoundedIds]]. History: round 5's
    // shape evaluated the banding kernel FOUR times (band self-join);
    // the first round-6 restructure cut that to two (a count aggregation
    // + broadcast join back onto a second banding evaluation feeding
    // collect_list — plan preserved in plans/r06/dedup_minhash_pairs_mid
    // .txt); this shape cuts it to ONE evaluation and ONE shuffle:
    //   1. `count(*)` stays a native partial-aggregated count — the
    //      2 <= bn <= MaxBand gate is decided on the exact count
    //      (a singleton band cannot form a pair; a hot band is dropped);
    //   2. the member list is capped AT THE AGGREGATE (MaxBand + 1): a
    //      kept band (bn <= MaxBand) provably never trims — its list is
    //      complete — while a hot band costs at most MaxBand + 1 longs
    //      per partial buffer and per map task on the wire, the same skew
    //      bound the two-pass shape bought with its pre-filter;
    //   3. within-band pairs come from the same bounded in-list cross
    //      (two Generates over <= 64-element lists).
    // Same candidate pair set, same confirmed output (OpsSpec pair gates
    // incl. the 1000-identical-doc skew test + driver oracle at four
    // scale points).
    val cand = bandRows.groupBy("band")
      .agg(count(lit(1)).as("bn"),
        bounded_ids(col("doc_id"), MaxBand + 1).as("ids"))
      .filter(col("bn") <= MaxBand && col("bn") >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // Confirm stage: tried and REVERTED (round 6, measured interleaved
    // A/B at sf0.1 AND sf1) — restructuring the two-sided join into
    // explode-sides -> ONE sh join -> per-pair first(when) pivot removes
    // one full-table shingle evaluation but must SHUFFLE every candidate
    // row with its shingle array through an extra exchange + sort-agg;
    // medians regressed ~8% at sf0.1 and ~15-25% at sf1. The two-sided
    // shape broadcasts the (small) pair list instead, so the heavy
    // arrays never move: re-evaluating the shingle kernel in place beats
    // shuffling its output — the same trade the banding stage resolves
    // the other way, where the aggregation is unavoidable anyway.
    val sh = d.select(col("doc_id"), shingles(col("t")).as("sh"))
    cand.join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long")
          .as("n_inter"),
        (size(col("sa.sh")) + size(col("sb.sh")) -
          size(array_intersect(col("sa.sh"), col("sb.sh")))).cast("long")
          .as("n_union"))
      .filter(col("n_inter") * lit(10) >= col("n_union") * lit(8)) // J>=0.8
  }

  /** One oracled query: its name, the DuckDB SQL that must return the same
    * rows, and its Spark plan over a testdata directory. */
  final case class Oracled(name: String, oracle: String)(
      val plan: (SparkSession, String) => DataFrame)

  // lazy val, not def: Bench/Verify access the table dozens of times and
  // the entries (closures, expanded oracle SQL incl. the BPE merge chain)
  // are pure constants
  lazy val oracled: Seq[Oracled] = Seq(
    // ---- S1/S2: source scan + projection + residual validation ----
    Oracled("s1_scan_project",
        "SELECT doc_id, source, n_chars FROM documents WHERE text IS NOT NULL " +
          "ORDER BY doc_id") { (s, dir) =>
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- P1: branch predicate (extract vs direct route). Blank = empty
    //      or ALL-whitespace, via the SAME canonical char-set the pipeline
    //      routes on (graft.core.Blank.Chars = Python str.strip()'s
    //      set; trimmed from both ends on both engines) ----
    Oracled("p1_branch_route",
        s"SELECT doc_id, CASE WHEN length(trim(text, " +
          s"'${Blank.Chars}')) = 0 THEN 'extract' " +
          "ELSE 'direct' END AS route FROM documents ORDER BY doc_id") {
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
          when(length(btrim(col("text"), lit(Blank.Chars))) === 0,
            lit("extract"))
            .otherwise(lit("direct")).as("route"))
          .orderBy("doc_id")
    },

    // ---- P1 extract stage: html→text entity decoding, byte-exact vs a
    //      DuckDB-constructed expected string. The html is built from
    //      doc_id so the oracle can rebuild the EXPECTED extraction
    //      literally: decimal + hex numeric refs, named entities (mdash /
    //      hellip — the crawl-punctuation set added in round 4), the
    //      out-of-range numeric that used to kill the stage (decodes to a
    //      space, never throws), and an unknown entity-shaped name
    //      (&bogus; — passes through RAW like a standards parser: prose
    //      such as "Q&A;" is never deleted). Tag semantics pinned: <p>
    //      emits a newline, a closing tag a space; chr(39) is the hex-ref
    //      apostrophe. ----
    Oracled("html_entities",
        "SELECT doc_id, chr(10) || 'a' || chr(65 + CAST(doc_id % 26 AS INT)) " +
          "|| 'b' || chr(39) || 'c—d…e f&bogus;gàhÉiéjαk→l m ' AS extracted " +
          "FROM documents ORDER BY doc_id") { (s, dir) =>
      val d = docs(s, dir).withColumn("h",
        expr("concat('<p>a&#', cast(65 + doc_id % 26 as string), " +
          "';b&#x27;c&mdash;d&hellip;e&#1114200;f&bogus;g" +
          // round-5 vectors: HTML4 accented/Greek/arrow names (case-
          // sensitive pair &eacute;/&Eacute;) + an overlong 9-digit
          // numeric ref (out-of-range → space, never raw/throw)
          "&agrave;h&Eacute;i&eacute;j&alpha;k&rarr;l&#123456789;m</p>')"))
      d.select(col("doc_id"), html_text(col("h")).as("extracted"))
        .orderBy("doc_id")
    },

    // ---- G1 + P2: tokenizer with running offsets, blank-filtered ----
    Oracled("g1_tokenize_stats", {
      val words = duckWords("text")
      s"SELECT doc_id, len($words) AS n_words, " +
        s"length(array_to_string($words, ' ')) AS full_text_len " +
        "FROM documents ORDER BY doc_id"
    }) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        word_count(col("text")).as("n_words"),
        length(extract_text(col("text"))).cast("long").as("full_text_len"))
        .orderBy("doc_id")
    },

    // ---- D1-D3: fused multi-pattern scan (per-type counts, planted) ----
    piiCounts("d1_pii_counts", piiTextSql, webPii),

    // ---- D1 full lineage: one scalar row per match (the driver's pandas
    //      compare cannot sort nested arrays, so the struct array is
    //      flattened; offsets stay golden-tested in PiiDetectorSpec).
    //      seq = 1-based position of the match within its type, computed
    //      from the already-sorted match array in the same project — no
    //      shuffle, single scan. The oracle's unnest(range) gives the same
    //      in-order position: regex finditer order == the engine's sorted
    //      order within a type (matches are emitted in text order). ----
    Oracled("d2_pii_matches", webPii.map(t =>
        s"SELECT doc_id, '${t.label}' AS pii_type, CAST(i AS BIGINT) AS seq, " +
          s"ms[i] AS match_text FROM (SELECT doc_id, ms, " +
          s"unnest(range(1, len(ms) + 1)) AS i FROM (SELECT doc_id, " +
          s"regexp_extract_all($piiTextSql, '${t.re2}') AS ms FROM documents))")
        .mkString("", " UNION ALL ", " ORDER BY doc_id, pii_type, seq")) {
      (s, dir) =>
        val d = docsPar(s, dir).withColumn("pii_text", expr(piiTextSql))
          .select(col("doc_id"), pii_extract(col("pii_text")).as("ms"))
        d.select(col("doc_id"), col("ms"),
            posexplode(col("ms")).as(Seq("pos", "m")))
          .select(col("doc_id"), col("m.pii_type").as("pii_type"),
            nOfType(slice(col("ms.pii_type"), lit(1), col("pos") + 1),
              col("m.pii_type")).as("seq"),
            col("m.text").as("match_text"))
          // dump only the 4 types the DuckDB oracle mirrors; the other 5
          // reference types (routing/account/card/credit-score x2) are
          // pinned by PiiPatternSpec + goldens — without this filter a
          // future testdata regen containing e.g. a 9-digit run would emit
          // rows the oracle lacks
          .filter(col("pii_type").isin(webPii.map(_.label): _*))
          .orderBy("doc_id", "pii_type", "seq")
    },

    // ---- D1 financial patterns (reference core set beyond the webtext
    //      four): card / routing / account / credit score / rating,
    //      end-to-end through the fused scanner vs independent DuckDB
    //      regexes. The constructed text is standalone (no base text) and
    //      overlap-free BY CONSTRUCTION for these five types; phone/ssn
    //      columns are deliberately absent — the engine's first-match-wins
    //      consumes the 11-digit account before the phone pattern could
    //      claim its 10-digit prefix, which independent per-pattern
    //      counting cannot mirror. ----
    piiCounts("d3_pii_financial", finTextSql, finPii),

    // ---- J1+J2+R1: span join + whole-token scrub, byte-exact vs the
    //      DuckDB-constructed expected text (see scrubTextSql: labels,
    //      token-mask shape, first-match-wins precedence). Scrub over
    //      arbitrary natural text stays golden + property-tested
    //      (GoldenFixtureSpec, CoreProps idempotence). ----
    Oracled("j2_scrub",
        s"SELECT doc_id, $scrubbedExpectedDuck AS scrubbed_text, " +
          "CAST(6 AS BIGINT) AS n_redacted FROM documents ORDER BY doc_id") {
      (s, dir) =>
        docsPar(s, dir).withColumn("pii_text", expr(scrubTextSql))
          .withColumn("p", pii_process(col("pii_text")))
          .select(col("doc_id"), col("p.scrubbed_text").as("scrubbed_text"),
            col("p.n_redacted").cast("long").as("n_redacted"))
          .orderBy("doc_id")
    },

    // ---- langid stage (SURVEY §2.11), oracled against generator truth:
    //      clean validated pages carry a construction-exact language label
    //      (the generation loop retries until LangId.predict(normalized
    //      text) == intended lang with conf >= LangConfMin — PagesSynth
    //      validatedOk), so `lang` from the dumped truth table IS the
    //      expected prediction. The documents-table variant stays
    //      UN-oracle-able (its `lang` is a source label, 43% agreement
    //      with the text) and is covered by LangIdSpec + the pipeline
    //      bench instead. ----
    Oracled("langid_pred",
        "SELECT url, lang AS lang_pred, TRUE AS conf_above_min " +
          s"FROM read_parquet('$AuxDirToken/pipeline_truth/*.parquet') " +
          "WHERE defect = 'none' AND validated_ok ORDER BY url") { (s, dir) =>
      PagesSynth.pagesWithTruth(s, synthN(dir), 16) // ONE generation pass
        .filter(col("defect") === "none" && col("validated_ok"))
        .withColumn("lid",
          langid(extract_text(coalesce(col("text"), html_text(col("html"))))))
        .select(col("url"), col("lid.lang").as("lang_pred"),
          (col("lid.conf") >= lit(Heuristics.LangConfMin))
            .as("conf_above_min"))
        .orderBy("url")
    },

    // ---- perplexity stage (SURVEY §2.11), oracled via two invariants the
    //      generator construction guarantees per clean validated page:
    //      (1) ppl under the predicted lang passes the strict generator
    //      gate (0.8 * PerplexityMax); (2) vowel-scrambling the text
    //      (known words → OOV, hitting the LM's add-one floor) STRICTLY
    //      raises ppl for the vowel-alphabet languages, whose clean body
    //      words are all in-vocab; for zh the body is vowel-free (the
    //      scramble touches at most OOV PII plants, whose floor score is
    //      hash-independent) so ppl may only stay equal, never improve.
    //      A broken LM (constant, random, or hash-degenerate) fails one
    //      of the two. Raw ppl values are model state DuckDB cannot
    //      recompute; they stay golden in QualityModelSpec. ----
    Oracled("perplexity_score",
        "SELECT url, TRUE AS ppl_below_gate, TRUE AS scrambled_worse " +
          s"FROM read_parquet('$AuxDirToken/pipeline_truth/*.parquet') " +
          "WHERE defect = 'none' AND validated_ok ORDER BY url") { (s, dir) =>
      PagesSynth.pagesWithTruth(s, synthN(dir), 16) // ONE generation pass
        .filter(col("defect") === "none" && col("validated_ok"))
        .withColumn("txt", coalesce(col("text"), html_text(col("html"))))
        .withColumn("pred", langid(extract_text(col("txt"))).getField("lang"))
        .withColumn("ppl", perplexity(col("txt"), col("pred")))
        .withColumn("ppl_s", perplexity(
          translate(col("txt"), "aeiouAEIOU", "zqxjvZQXJV"), col("pred")))
        .select(col("url"),
          (col("ppl") <= lit(Heuristics.PerplexityMax * 0.8))
            .as("ppl_below_gate"),
          when(col("true_lang") =!= "zh", col("ppl_s") > col("ppl"))
            .otherwise(col("ppl_s") >= col("ppl")).as("scrambled_worse"))
        .orderBy("url")
    },

    // ---- Gopher/C4 heuristics: integer-exact observables ----
    Oracled("heuristics_basic", {
      import DuckHeuristics._
      s"SELECT doc_id, $wc AS word_count, $stop AS stopword_count, " +
        s"$sent AS sentences, CAST($lorem AS BIGINT) AS has_lorem, " +
        s"CAST($curly AS BIGINT) AS has_curly, " +
        s"$keepBasicDuck AS keep_basic " +
        s"FROM documents ORDER BY doc_id"
    }) { (s, dir) =>
      val d = docsPar(s, dir).withColumn("rs", rules(col("text"), lit("en")))
      d.select(col("doc_id"),
        ruleValue(col("rs"), "word_count_min").cast("long").as("word_count"),
        ruleValue(col("rs"), "stopword_count").cast("long").as("stopword_count"),
        ruleValue(col("rs"), "min_sentence_count").cast("long").as("sentences"),
        ruleValue(col("rs"), "lorem_ipsum").cast("long").as("has_lorem"),
        ruleValue(col("rs"), "curly_brace").cast("long").as("has_curly"),
        keepBasic(col("rs")).as("keep_basic"))
        .orderBy("doc_id")
    },

    // ---- §2.11 toxicity: C4-style badwords filter (blocklist_hit rule)
    //      over planted markers — any occurrence drops the page, the
    //      lineage value carries the occurrence count ----
    Oracled("toxicity_blocklist", {
      val listLit = Heuristics.Blocklist.toSeq.sorted
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val hits = s"len(list_filter(list_transform(" +
        s"${duckWords(toxTextSql)}, " +
        s"w -> lower(w)), w -> list_contains($listLit, w)))"
      s"SELECT doc_id, CAST($hits AS BIGINT) AS n_blocklist_hits, " +
        s"$hits > 0 AS flagged FROM documents ORDER BY doc_id"
    }) { (s, dir) =>
      val d = docsPar(s, dir).withColumn("t", expr(toxTextSql))
        .withColumn("rs", rules(col("t"), lit("en")))
      d.select(col("doc_id"),
        ruleValue(col("rs"), "blocklist_hit").cast("long")
          .as("n_blocklist_hits"),
        ruleFired(col("rs"), "blocklist_hit").as("flagged"))
        .orderBy("doc_id")
    },

    // ---- keep/drop aggregate per language ----
    Oracled("keep_stats",
        s"SELECT lang, count(*) AS n_docs, " +
          s"CAST(sum(CASE WHEN $keepBasicDuck " +
          s"THEN 1 ELSE 0 END) AS BIGINT) AS n_keep " +
          s"FROM documents GROUP BY lang ORDER BY lang") { (s, dir) =>
      val d = docsPar(s, dir).withColumn("rs", rules(col("text"), lit("en")))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keepBasic(col("rs")), 1L).otherwise(0L)).as("n_keep"))
        .orderBy("lang")
    },

    // ---- O4/O5: metrics aggregate (per source). DuckDB sum(BIGINT) is
    //      HUGEINT and pandas-renders as float64; the hash compare is
    //      dtype-exact, so the oracle casts back to BIGINT. ----
    Oracled("o4_metrics",
        "SELECT source, count(*) AS n_docs, " +
          "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
          "max(n_chars) AS max_chars FROM documents GROUP BY source " +
          "ORDER BY source") { (s, dir) =>
      docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source")
    },

    // ---- full pipeline over synthesized pages, oracled against the
    //      generator truth table (labels exact by construction: validated
    //      generation + honest exhaust labels ⇒ keep == expected_keep on
    //      EVERY row — the F1 == 1.0 gate of PipelineSpec, now driver-
    //      verified; the dumped truth table carries no pipeline output).
    //      PII accounting invariants are restricted to where construction
    //      guarantees them: clean docs find exactly the planted match
    //      count; any doc redacts at least one token per planted string.
    //      Scrubbed bytes stay golden-tested; the scrub CONTRACT itself is
    //      byte-exactly oracled by j2_scrub. ----
    Oracled("pipeline_full",
        "SELECT url, expected_keep AS keep, expected_keep, n_pii, " +
          "TRUE AS pii_count_exact, TRUE AS scrub_covers_planted " +
          s"FROM read_parquet('$AuxDirToken/pipeline_truth/*.parquet') " +
          "ORDER BY url") { (s, dir) =>
      // one generation pass, materialized once (localCheckpoint) because
      // the frame is consumed twice — as pipeline input and as the truth
      // side of the join; without it Spark would re-run the validated
      // generation for each branch
      val both = PagesSynth.pagesWithTruth(s, synthN(dir), 16)
        .localCheckpoint(true)
      QualityPipeline(both.select("url", "warc_ts", "html", "text", "lang"))
        .join(both.select("url", "defect", "expected_keep", "n_pii"), "url")
        .select(col("url"), col("keep"), col("expected_keep"), col("n_pii"),
          when(col("defect") === "none",
            size(col("pii_matches")).cast("long") === col("n_pii"))
            .otherwise(lit(true)).as("pii_count_exact"),
          when(col("defect") === "none",
            (col("n_pii") === 0 && col("n_redacted") === 0) ||
              (col("n_pii") > 0 &&
                col("n_redacted").cast("long") >= col("n_pii") &&
                col("scrubbed_text").contains("[PII:")))
            .otherwise(col("n_redacted").cast("long") >= col("n_pii"))
            .as("scrub_covers_planted"))
        .orderBy("url")
    },

    // ---- dedup: exact (hash groups, planted duplicates) ----
    Oracled("dedup_exact",
        s"SELECT md5($dupTextSql) AS text_hash, count(*) AS n_dups, " +
          s"min(doc_id) AS min_doc_id FROM documents " +
          s"GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash") { (s, dir) =>
      docs(s, dir).withColumn("t", expr(dupTextSql))
        .groupBy(md5(col("t")).as("text_hash"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("min_doc_id"))
        .filter(col("n_dups") > 1)
        .orderBy("text_hash")
    },

    // ---- dedup: MinHash/LSH near-dup discovery — the full scale pipeline:
    //   1. band join on LSH keys (only (doc_id, band) longs cross the
    //      shuffle); empty docs emit no bands (skew guard in the kernel);
    //   2. band-bucket size cap — a hot bucket (boilerplate, templated
    //      pages) is dropped rather than joined quadratically;
    //   3. exact shingle-Jaccard CONFIRMATION over the candidate set only
    //      (array_intersect of the two shingle sets — native, no shuffle
    //      beyond re-attaching the shingle arrays to candidates).
    // The oracle brute-forces exact Jaccard over all pairs — feasible at
    // verify scale; the Spark plan never goes all-pairs. LSH(b=32,r=4)
    // recall at the J>=0.8 output threshold is 1-(1-0.8^4)^32 ≈ 1-5e-8.
    Oracled("dedup_minhash_pairs",
        s"WITH ${exactJaccardPairsCtes("TRUE")} " +
          s"SELECT id_a, id_b, n_inter, n_union FROM jpairs " +
          s"ORDER BY id_a, id_b") { (s, dir) =>
      minhashConfirmedPairs(s, dir).orderBy("id_a", "id_b")
    },

    // ---- dedup: duplicate clustering — connected components over the
    //      confirmed near-dup pairs via alternating large-star/small-star
    //      (graft.ops.ConnectedComponents): O(log n) rounds, min-agg only
    //      (no label hubs under degree skew), ONE observed Spark job per
    //      phase (round 2 ran a separate convergence action per round).
    //      canonical = the component's min doc_id. The oracle computes
    //      the components over the SAME exact pair set as a recursive
    //      reachability closure (cluster = min reachable id; component
    //      sizes are small, so the closure is cheap at verify scale). ----
    Oracled("dedup_clusters",
        s"WITH RECURSIVE ${exactJaccardPairsCtes("TRUE")}, " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs " +
          "UNION ALL SELECT id_b, id_a FROM jpairs), " +
          "reach(id, c) AS (" +
          "SELECT src, src FROM edges " +
          "UNION " +
          "SELECT e.dst, r.c FROM reach r JOIN edges e ON e.src = r.id) " +
          "SELECT id AS doc_id, min(c) AS cluster_id, " +
          "id = min(c) AS is_canonical " +
          "FROM reach GROUP BY id ORDER BY doc_id") { (s, dir) =>
      val pairs = minhashConfirmedPairs(s, dir)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      graft.ops.ConnectedComponents.labels(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // ---- dedup: SimHash invariants over planted exact-dup clusters.
    //      Raw 64-bit hashes are not DuckDB-mirrorable, so the driver row
    //      is the invariant a dedup consumer relies on: identical text =>
    //      identical SimHash (one distinct hash per planted cluster).
    //      Raw hash values + near-dup hamming stay golden in DedupSpec. ----
    Oracled("dedup_simhash",
        "SELECT doc_id % 3 AS cluster, CAST(1 AS BIGINT) AS n_distinct_simhash, " +
          "count(*) AS n_docs FROM documents WHERE doc_id % 11 < 2 " +
          "GROUP BY 1 ORDER BY cluster") { (s, dir) =>
      docs(s, dir).withColumn("t", expr(dupTextSql))
        .filter(col("doc_id") % 11 < 2)
        .groupBy((col("doc_id") % 3).as("cluster"))
        .agg(countDistinct(simhash(col("t"))).as("n_distinct_simhash"),
          count(lit(1)).as("n_docs"))
        .orderBy("cluster")
    },

    // ---- dedup: 3-gram-shingle Jaccard over planted near-dup clusters;
    //      the oracle is the planted docs' pair set alone, from the same
    //      ground truth ----
    Oracled("dedup_ngram_jaccard",
        s"WITH ${exactJaccardPairsCtes("doc_id % 25 = 0")} " +
          s"SELECT id_a, id_b, n_inter, n_union FROM jpairs " +
          s"ORDER BY id_a, id_b") { (s, dir) =>
      val d = docs(s, dir).withColumn("t",
          expr(nearDupSql(nearDupVariants(numDocs(s, dir)).toString)))
        .filter(expr("doc_id % 25 = 0"))
        .select(col("doc_id"), shingles(col("t")).as("sh"))
      val sh = d.select(col("doc_id"), explode(col("sh")).as("w"))
      val pair = sh.as("a").join(sh.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_inter"))
      val sizes = d.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      pair.join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), col("n_inter"),
          (col("sa.n") + col("sb.n") - col("n_inter")).as("n_union"))
        .filter(col("n_inter") * lit(10) >= col("n_union") * lit(8)) // J>=0.8
        .orderBy("id_a", "id_b")
    },

    // ---- fingerprinting: invariants (raw hashes golden in DedupSpec).
    //      Planted clusters collapse to 1 fingerprint each; the unplanted
    //      remainder must stay collision-free. Its expected distinct count
    //      is the TRUE distinct-text count, not count(*): at sf >= 0.1 the
    //      synthetic vocab produces natural duplicate texts (caught by the
    //      sf1 run), and identical texts SHOULD share a fingerprint. ----
    Oracled("text_fingerprint",
        "SELECT 'cluster_' || (doc_id % 3) AS grp, count(*) AS n_docs, " +
          "CAST(1 AS BIGINT) AS n_distinct_fp FROM documents " +
          "WHERE doc_id % 11 < 2 GROUP BY 1 " +
          "UNION ALL " +
          "SELECT 'unique_texts' AS grp, count(*) AS n_docs, " +
          "count(DISTINCT text) AS n_distinct_fp FROM documents " +
          "WHERE doc_id % 11 >= 2 " +
          "ORDER BY grp") { (s, dir) =>
      val d = docs(s, dir).withColumn("t", expr(dupTextSql))
        .withColumn("fp", fingerprint(col("t")))
      val clusters = d.filter(col("doc_id") % 11 < 2)
        .groupBy(concat(lit("cluster_"), col("doc_id") % 3).as("grp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"))
      val rest = d.filter(col("doc_id") % 11 >= 2)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"))
        .select(lit("unique_texts").as("grp"), col("n_docs"),
          col("n_distinct_fp"))
      clusters.unionByName(rest).orderBy("grp")
    },

    // ---- text analysis: token counting — whitespace words, TRAINED BPE
    //      (actual merges, graft.core.Bpe; the oracle re-applies the
    //      identical merge table as a literal per-word replace chain), and
    //      the word/number/punct regex segmentation kept as a third view ----
    Oracled("text_token_counts", {
      val words = duckWords("text")
      val perWord = graft.core.Bpe.tokenCountSql("w")
      s"SELECT doc_id, len($words) AS ws_tokens, " +
        s"CAST(coalesce(list_sum(list_transform($words, " +
        s"w -> $perWord)), 0) AS BIGINT) AS bpe_tokens, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) " +
        "AS regex_tokens FROM documents ORDER BY doc_id"
    }) { (s, dir) =>
      docsPar(s, dir).select(col("doc_id"),
        word_count(col("text")).as("ws_tokens"),
        bpe_count(col("text")).as("bpe_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("regex_tokens"))
        .orderBy("doc_id")
    },

    // ---- similarity: brute-force cosine top-k ----
    Oracled("knn_bruteforce",
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb " +
          "FROM embeddings WHERE vec_id = 0) " +
          "SELECT vec_id, round(list_cosine_similarity(" +
          "CAST(embedding AS DOUBLE[]), q_emb), 4) " +
          "AS cosine FROM embeddings, q WHERE vec_id <> 0 " +
          "ORDER BY cosine DESC, vec_id LIMIT 10") { (s, dir) =>
      val emb = embs(s, dir)
        .withColumn("emb", col("embedding").cast("array<double>"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"))
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosine(col("emb"), col("q_emb")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    // ---- similarity: LSH ANN — 16-hyperplane signed projection (native
    //      graft_lsh_project, 65k buckets) + hamming-radius multi-probe.
    //      Candidates = sigs within hamming distance 5 of the query's;
    //      rank candidates by exact cosine. For batch ANN at scale the
    //      probe set is enumerated (bit-flip expansion) and equi-joined on
    //      the signature; with a single query vector the broadcast +
    //      popcount filter below is the same pruning. The oracle mirrors
    //      graft_lsh_project bit-for-bit: same integer hyperplane weights,
    //      1-based (bit, dim) arithmetic (DuckDB list lambdas/indexing are
    //      1-based). ----
    Oracled("ann_lsh_topk", {
      val sigExpr = (1 to 16).map { b =>
        s"(CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), " +
          s"i -> emb[i] * CAST((2654435761 * i + 40503 * $b) % 9 - 4 " +
          s"AS DOUBLE))) > 0 THEN ${1 << (b - 1)} ELSE 0 END)"
      }.mkString(" + ")
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
        "FROM embeddings), " +
        s"s AS (SELECT vec_id, emb, CAST($sigExpr AS BIGINT) AS sig FROM e), " +
        "q AS (SELECT emb AS q_emb, sig AS q_sig FROM s WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(emb, q_emb), 4) " +
        "AS cosine FROM s, q " +
        "WHERE vec_id <> 0 AND bit_count(xor(sig, q_sig)) <= 5 " +
        "ORDER BY cosine DESC, vec_id LIMIT 10"
    }) { (s, dir) =>
      val emb = embs(s, dir)
        .withColumn("emb", col("embedding").cast("array<double>"))
        .withColumn("sig", lsh_project(col("emb")))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("sig").as("q_sig"))
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(expr("bit_count(sig ^ q_sig)") <= 5)
        .select(col("vec_id"),
          round(cosine(col("emb"), col("q_emb")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    // ---- streaming-shaped: tumbling window aggregation over events ----
    // Window key as epoch seconds and the value sum as integer micros:
    // both BIGINT on both sides (see q1_agg note on hash-exact dtypes).
    Oracled("events_window",
        "SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) " +
          "AS window_start, " +
          "event_type, count(*) AS n, min(value) AS min_value, " +
          "max(value) AS max_value, " +
          "CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) " +
          "AS sum_value_micros " +
          "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type") {
      (s, dir) =>
        s.read.parquet(s"$dir/events.parquet")
          .groupBy(window(col("ts"), "5 minutes").getField("start")
            .cast("timestamp").cast("long").as("window_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"),
            sum(round(col("value") * 1000000).cast("long"))
              .as("sum_value_micros"))
          .orderBy("window_start", "event_type")
    },

    // ---- relational coverage: agg / broadcast join / window top-k ----
    // Money flows as integer cents end-to-end: round(x*100) is the same
    // double op in Spark and DuckDB, and BIGINT sums are exact — DECIMAL
    // sums hash-fail because DuckDB's pandas bridge renders them float64.
    Oracled("q1_agg",
        "SELECT l_returnflag, l_linestatus, " +
          "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) " +
          "AS sum_qty_cents, " +
          "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) " +
          "AS sum_price_cents, " +
          "count(*) AS n_rows FROM lineitem GROUP BY 1, 2 " +
          "ORDER BY l_returnflag, l_linestatus") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sum_price_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    Oracled("q2_join_topn",
        "SELECT n_name, count(*) AS n_orders, " +
          "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) " +
          "AS revenue_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY n_name ORDER BY n_name") { (s, dir) =>
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("n_name")
    },

    Oracled("q3_window_topk",
        "SELECT o_custkey, o_orderkey, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, rn FROM (" +
          "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
          "WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn", "o_orderkey")
    },

    // ---- relational coverage: set ops (EXCEPT/INTERSECT) ----
    Oracled("q4_setop",
        "SELECT partkey FROM (" +
          "SELECT DISTINCT l_partkey AS partkey FROM lineitem " +
          "INTERSECT SELECT p_partkey FROM part WHERE p_size > 25) " +
          "ORDER BY partkey") { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val p = s.read.parquet(s"$dir/part.parquet")
      val used = li.select(col("l_partkey").as("p_partkey")).distinct()
      val large = p.filter(col("p_size") > 25).select(col("p_partkey"))
      used.intersect(large).withColumnRenamed("p_partkey", "partkey")
        .union(used.exceptAll(used)) // exercise both set ops in one plan
        .orderBy("partkey")
    },

    // ---- relational coverage: ROLLUP grouping sets ----
    Oracled("q5_rollup",
        "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, " +
          "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) " +
          "AS sum_qty_cents " +
          "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
          "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST") {
      (s, dir) =>
        s.read.parquet(s"$dir/lineitem.parquet")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },

    // ---- dedup: embedding-cosine near-dup pairs (planted, oracled) ----
    // Planted near-copies: vec_id % 25 == 0 gets a perturbed twin at
    // vec_id + 100000; pairwise cosine >= 0.8 recovers exactly the 20
    // planted pairs. Brute-force pairwise here — a LABELED EXACT BASELINE
    // bounded to the first EmbPairsCap vectors (a no-op at verify/bench
    // scales, which have <= 2000; at sf >= 1 it keeps the exhibit's
    // quadratic cost constant). The discovery path at scale is the
    // LSH/IVF bucketing below, never all-pairs.
    Oracled("dedup_embedding_pairs",
        s"WITH capped AS (SELECT * FROM embeddings WHERE vec_id < $EmbPairsCap), " +
          "planted AS (SELECT vec_id + 100000 AS vec_id, " +
          "list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> " +
          "x + ((i * 37) % 11 - 5) / 200.0) AS emb " +
          "FROM capped WHERE vec_id % 25 = 0), " +
          "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
          "FROM capped UNION ALL SELECT vec_id, emb FROM planted) " +
          "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
          "round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine " +
          "FROM base a JOIN base b ON a.vec_id < b.vec_id " +
          "WHERE list_cosine_similarity(a.emb, b.emb) >= 0.8 " +
          "ORDER BY id_a, id_b") { (s, dir) =>
      val emb = embsPar(s, dir)
        .filter(col("vec_id") < EmbPairsCap)
      val asD = col("embedding").cast("array<double>")
      // DuckDB list lambdas index 1-based; mirror with (i + 1)
      val planted = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(asD, (x, i) =>
            x + (((i + 1) * 37 % 11) - 5).cast("double") / 200.0).as("emb"))
      val base = emb.select(col("vec_id"), asD.as("emb")).union(planted)
      val cos = cosine(col("a.emb"), col("b.emb"))
      base.as("a").join(broadcast(base.as("b")),
          col("a.vec_id") < col("b.vec_id"))
        .filter(cos >= 0.8)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(cos, 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },

    // ---- similarity: IVF ANN with a TRAINED coarse quantizer (seeded
    //      deterministic k-means over a bounded sample — ivfCentroids)
    //      and MULTI-PROBE search (nprobe = 2): a balanced trained
    //      quantizer splits true neighbors across cell boundaries more
    //      often than an arbitrary first-K codebook does (measured:
    //      single-probe recall@10 dropped 9 → 8 after training), and
    //      probing the query's next-nearest cells is the standard IVF
    //      answer. The codebook is tiny, so it ships as a literal:
    //      assignment is ONE native expression in the scan projection —
    //      no per-row join, no window, no extra shuffle; the probe set is
    //      a 2-element isin filter. The oracle reads the DUMPED codebook
    //      (an oracle input; training determinism is sbt-tested) and
    //      independently recomputes assignment + probe-cell search, probe
    //      cells ranked as on the Spark side (ties → lowest cell id). ----
    Oracled("ann_ivf_topk", ivfOracleSql("ivf_centroids", IvfNProbe)) {
      (s, dir) => ivfTopK(s, dir)
    },

    // ---- similarity: IVF with AUTO-SIZED k (k = 0 -> clamp(sqrt(N), 8,
    //      4096) from the table; 22 cells at verify scale) and a wider
    //      probe set — the configuration a deployment actually runs,
    //      driver-verified against the independently recomputed
    //      assignment + probe search over the dumped auto-k codebook. ----
    Oracled("ann_ivf_auto", ivfOracleSql("ivf_centroids_auto", 4)) {
      (s, dir) => ivfTopK(s, dir, k = 0, nprobe = 4)
    },

    // ---- similarity: int8 vector quantization (the ANN compression
    //      path at scale — 4x smaller candidate tables; per-vector
    //      symmetric scale q = round(x * 127 / max|x|)). Exploded to
    //      scalar rows for the driver compare. ----
    Oracled("emb_quantize_int8",
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
          "FROM embeddings), " +
          "m AS (SELECT vec_id, emb, " +
          "list_max(list_transform(emb, x -> abs(x))) AS m FROM e), " +
          "u AS (SELECT vec_id, emb, m, unnest(range(1, len(emb) + 1)) AS i " +
          "FROM m) " +
          "SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, " +
          "CAST(CASE WHEN m = 0 THEN 0 ELSE round(emb[i] * 127.0 / m) END " +
          "AS BIGINT) AS q FROM u ORDER BY vec_id, dim") { (s, dir) =>
      val emb = embs(s, dir)
        .withColumn("emb", col("embedding").cast("array<double>"))
        // native kernel for max|x| — the HOF form `array_max(transform(
        // emb, abs))` ran its lambda interpreted per element (round-6
        // second pass; equality gated by the ExprSpec differential and
        // the unchanged DuckDB oracle, which still computes
        // list_max(list_transform(...)))
        .withColumn("m", absmax(col("emb")))
      emb.select(col("vec_id"), col("m"),
          posexplode(col("emb")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          when(col("m") === 0, lit(0L))
            .otherwise(round(col("x") * 127.0 / col("m")).cast("long"))
            .as("q"))
        .orderBy("vec_id", "dim")
    },

    // ---- text analysis: composite quality score (oracled) ----
    Oracled("quality_score", {
      import DuckHeuristics._
      s"SELECT doc_id, round(" +
        s"least($wc, 200.0) / 200.0 * 0.25 + " +
        s"(CASE WHEN $wc > 0 THEN $alpha * 1.0 / $wc ELSE 0.0 END) * 0.25 + " +
        s"least($stop, 8.0) / 8.0 * 0.25 + " +
        s"least($sent, 20.0) / 20.0 * 0.25, 6) AS quality_score " +
        s"FROM documents ORDER BY doc_id"
    }) { (s, dir) =>
      val d = docsPar(s, dir).withColumn("rs", rules(col("text"), lit("en")))
      val wc = ruleValue(col("rs"), "word_count_min")
      val alpha = ruleValue(col("rs"), "alpha_word_ratio")
      val stop = ruleValue(col("rs"), "stopword_count")
      val sent = ruleValue(col("rs"), "min_sentence_count")
      d.select(col("doc_id"),
        round(least(wc, lit(200.0)) / 200.0 * 0.25 + alpha * 0.25 +
          least(stop, lit(8.0)) / 8.0 * 0.25 +
          least(sent, lit(20.0)) / 20.0 * 0.25, 6).as("quality_score"))
        .orderBy("doc_id")
    },

    // ---- multimodal plumbing: opaque binary + batched stub decode,
    //      oracled end-to-end (the DuckDB side recomputes the stub's
    //      straight-line dim arithmetic from the source text, BIGINT
    //      throughout, no overflow). Nested frame offsets are flattened to
    //      scalars (the pandas compare cannot sort array columns); the
    //      full offsets array and the FNV content_hash stay covered by
    //      OpsSpec. ----
    Oracled("mm_decode_features",
        "WITH s AS (SELECT doc_id, " +
          "CAST(octet_length(encode(text)) AS BIGINT) AS olen, " +
          "CAST(length(text) AS BIGINT) AS clen, " +
          "CAST(CASE WHEN length(text) = 0 THEN 0 " +
          "ELSE unicode(substr(text, 1, 1)) END AS BIGINT) AS fcp, " +
          "CAST(CASE WHEN length(text) = 0 THEN 0 " +
          "ELSE unicode(substr(text, length(text), 1)) END AS BIGINT) AS lcp " +
          "FROM documents), " +
          "f AS (SELECT doc_id, olen AS n_bytes, " +
          "160 + (olen * 7919 + fcp * 131) % 1760 AS width, " +
          "90 + (clen * 104729 + lcp * 137) % 990 AS height, " +
          "1 + (olen + fcp + lcp) % 3 AS channels, " +
          "1000 + (olen * 2654435761 + clen * 40503) % 59000 AS duration_ms " +
          "FROM s) " +
          "SELECT doc_id, n_bytes, CAST(width AS BIGINT) AS width, " +
          "CAST(height AS BIGINT) AS height, " +
          "CAST(channels AS BIGINT) AS channels, " +
          "CAST(duration_ms AS BIGINT) AS duration_ms, " +
          "CAST(least(16, (duration_ms + 4999) // 5000) AS BIGINT) AS n_frames, " +
          "CAST(0 AS BIGINT) AS first_offset_ms " +
          "FROM f ORDER BY doc_id") { (s, dir) =>
      import s.implicits._
      val blobs = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("blob"))
        .as[graft.ops.MediaBlob]
      graft.ops.Multimodal.extractFeatures(blobs)
        .toDF()
        .withColumn("n_frames", size(col("frame_offsets_ms")).cast("long"))
        .withColumn("first_offset_ms",
          when(size(col("frame_offsets_ms")) > 0,
            element_at(col("frame_offsets_ms"), 1)).otherwise(lit(-1))
            .cast("long"))
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("duration_ms").cast("long").as("duration_ms"),
          col("n_frames"), col("first_offset_ms"))
        .orderBy("doc_id")
    },

    // ---- multimodal: column-level fake meta (pure SQL plumbing) ----
    Oracled("mm_meta_extract",
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS blob_bytes, " +
          "CAST(320 + (CAST(octet_length(encode(text)) AS BIGINT) * 7919) % 1600 " +
          "AS BIGINT) AS fake_width, " +
          "CAST(240 + (CAST(octet_length(encode(text)) AS BIGINT) * 104729) % 900 " +
          "AS BIGINT) AS fake_height FROM documents ORDER BY doc_id") { (s, dir) =>
      docs(s, dir)
        .withColumn("blob", encode(col("text"), "utf-8"))
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("blob_bytes"),
          // STUBBED decode (no image/audio libs in this container): fake,
          // deterministic metadata from the byte length; the Spark-side
          // plumbing (binary col, projection, schema) is real and the
          // arithmetic is mirrored in the DuckDB oracle. Multiply in
          // 64-bit: int32 length * 104729 silently wraps past ~20 KB texts
          // while the BIGINT oracle doesn't — a testdata regen with larger
          // docs would hash-fail on sign-flipped % results.
          (lit(320L) + (length(col("blob")).cast("long") * 7919L) % 1600L)
            .as("fake_width"),
          (lit(240L) + (length(col("blob")).cast("long") * 104729L) % 900L)
            .as("fake_height"))
        .orderBy("doc_id")
    }
  ).ensuring(qs => qs.map(_.name).distinct.size == qs.size,
    "a query name is declared twice")

  /** Bound on the brute-force embedding-pairs exhibit (see
    * `dedup_embedding_pairs`). 2000 = the sf0.1 table size, so every
    * driver scale is unaffected. */
  final val EmbPairsCap = 2000L

  /** Placeholder Verify substitutes with the absolute path of the
    * side-channel oracle inputs it dumps (generator truth table, trained
    * IVF codebooks) — kept OUTSIDE the driver's compare dir so they are
    * oracle inputs, not extra query rows. */
  final val AuxDirToken = "__AUXDIR__"

  /** IVF oracle template: assignment + multi-probe search recomputed in
    * DuckDB from the codebook dumped under `$AuxDirToken/<sub>`. */
  private def ivfOracleSql(sub: String, nprobe: Int): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
      "FROM embeddings), " +
      "cents AS (SELECT cent_id, CAST(cent AS DOUBLE[]) AS cent " +
      s"FROM read_parquet('$AuxDirToken/$sub/*.parquet')), " +
      "assign AS (SELECT e.vec_id, " +
      "arg_max(cent_id, list_cosine_similarity(e.emb, cent)) AS cent_id " +
      "FROM e CROSS JOIN cents GROUP BY e.vec_id), " +
      "a AS (SELECT e.vec_id, e.emb, s.cent_id FROM e " +
      "JOIN assign s ON e.vec_id = s.vec_id), " +
      "q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0), " +
      "probes AS (SELECT cent_id FROM cents, q " +
      "ORDER BY list_cosine_similarity(q_emb, cent) DESC, cent_id " +
      s"LIMIT $nprobe) " +
      "SELECT a.vec_id, round(list_cosine_similarity(a.emb, q_emb), 4) " +
      "AS cosine FROM a, q WHERE a.vec_id <> 0 " +
      "AND a.cent_id IN (SELECT cent_id FROM probes) " +
      "ORDER BY cosine DESC, vec_id LIMIT 10"

  /** The Spark plans of [[oracled]] by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    oracled.map(q => q.name -> q.plan).toMap
}
