package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Materialize, Pipeline, SynthCorpus}

/** Driver contract: one entry per implemented operator family (SURVEY.md §2),
  * each with a DuckDB-equivalent oracle where the semantics are ANSI-SQL
  * expressible; KG-pipeline operators run on the deterministic synthetic
  * corpus and are checked rows-only (their real correctness gate is the
  * golden parity suite, ParitySpec).
  *
  * Conventions for oracle parity: aggregates are rounded on BOTH sides,
  * floating aggregations avoid order-dependence, every computed column is
  * aliased identically in Spark and SQL.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  // q45 staging guard (see the q45 entry): once per JVM, overwrite-first
  private val q45Lock = new Object
  @volatile private var q45Staged = false

  /** tmpdir fixture path keyed by sf dir: Verify and Bench runs at
    * different sf dirs can never clobber each other's oracle fixtures
    * (the q70 staging pattern, shared by every fixture-writing query).
    */
  private[graft] def fixtureDir(base: String, sfDir: String): String = {
    val tag = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir).toLong & 0xffffffffL)
    new java.io.File(
      System.getProperty("java.io.tmpdir"), s"${base}_$tag").toString
  }

  /** The same path on the oracle side. `oracleSql` is a parameterless
    * contract, so Verify pins the sf dir it ran at into `graft.sf.dir`
    * before evaluating it; the default matches the driver's verify dir.
    */
  private def oracleFixtureDir(base: String): String =
    fixtureDir(base, sys.props.getOrElse("graft.sf.dir", "/root/testdata/sf0.01"))

  /** DuckDB mirror of `Ann.dot` + its floor(x·1e5+0.5)/1e5 rounding,
    * mirrored EXACTLY rather than via SQL round(): round-half-away and
    * floor-half-up disagree on negative values landing on a .5
    * boundary, so the literal floor expression removes that (ulp-rare
    * but real) divergence class.
    */
  private def dotMirror(ea: String, eb: String): String =
    s"""(floor(list_sum(list_transform(list_zip($ea.embedding, $eb.embedding),
       | p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * 100000 + 0.5)
       | / 100000)""".stripMargin

  /** Partial oracle for an ANN top-k fixture (qid, nid, sim, rk): every
    * emitted row's sim must equal the exact dot product and rk the rank
    * re-derived over the emitted set (duplicate rows get conflicting
    * ranks and drop out, failing the row gate).
    */
  /** Quantized-store mirror of one embedding side: scale + int codes via
    * the q73 bit-exact arithmetic (alias `$a` → columns `{a}_scale`,
    * `{a}_codes`).
    */
  private def quantMirrorCte(a: String): String =
    s"""(SELECT vec_id AS ${a}_id, scale AS ${a}_scale,
       |  list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
       |    ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)
       |    END) AS ${a}_codes
       | FROM (SELECT vec_id, embedding,
       |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
       |     AS scale FROM embeddings))""".stripMargin

  /** Quantized pair sim mirror: (scale_a · scale_b) · Σ codeᵢ·codeᵢ with
    * the operator's multiplication ORDER and floor rounding — IEEE-
    * identical to `Ann.simI8`.
    */
  private def simI8Mirror(a: String, b: String): String =
    s"""(floor((${a}_scale * ${b}_scale) *
       | CAST(list_sum(list_transform(list_zip(${a}_codes, ${b}_codes),
       |   p -> p[1] * p[2])) AS DOUBLE) * 100000 + 0.5) / 100000)""".stripMargin

  /** Partial oracle for the int8 ANN fixture: every emitted sim must
    * equal the quantized dot re-derived from the embeddings (scale and
    * codes recomputed via the q73 mirror), rk re-derived over the
    * emitted set. Candidate recall stays spec-gated (overlap ≥ 0.9 vs
    * the float path, StreamingAnnSpec).
    */
  private def annI8TopkOracleSql(base: String): String =
    s"""SELECT qid, nid, sim, rk FROM (
       |  SELECT p.qid, p.nid, p.sim, p.rk,
       |    ${simI8Mirror("qa", "qb")} AS true_sim,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY p.sim DESC, p.nid) AS true_rk
       |  FROM read_parquet('${oracleFixtureDir(base)}/*.parquet') p
       |  JOIN ${quantMirrorCte("qa")} qa ON p.qid = qa.qa_id
       |  JOIN ${quantMirrorCte("qb")} qb ON p.nid = qb.qb_id
       |  WHERE p.qid <> p.nid AND p.rk >= 1 AND p.rk <= 5)
       |WHERE sim = true_sim AND rk = true_rk""".stripMargin

  private def annTopkOracleSql(base: String): String =
    s"""SELECT qid, nid, sim, rk FROM (
       |  SELECT p.qid, p.nid, p.sim, p.rk,
       |    ${dotMirror("ea", "eb")} AS true_sim,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY p.sim DESC, p.nid) AS true_rk
       |  FROM read_parquet('${oracleFixtureDir(base)}/*.parquet') p
       |  JOIN embeddings ea ON p.qid = ea.vec_id
       |  JOIN embeddings eb ON p.nid = eb.vec_id
       |  WHERE p.qid <> p.nid AND p.rk >= 1 AND p.rk <= 5)
       |WHERE sim = true_sim AND rk = true_rk""".stripMargin

  /** Materialize a query result to its sf-keyed fixture and return the
    * read-back (so the partial oracle and the driver's compare see the
    * SAME rows). Under bench (graft.bench) the bare plan is returned —
    * timing measures the operator, not parquet writes.
    */
  private def materialized(
      s: SparkSession, d: String, base: String, df: DataFrame): DataFrame =
    if (sys.props.contains("graft.bench")) df
    else {
      val fix = fixtureDir(base, d)
      df.write.mode("overwrite").parquet(fix)
      s.read.parquet(fix)
    }

  /** Deterministic held-out "benchmark" for the decontamination queries
    * (q77/q78): the first 40 tokens of every 17th document — real
    * contamination (those docs and their exact clones share 13-grams
    * with it) that the oracle re-derives from the same rule.
    */
  private def decontamBench(
      docs: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(_._1 % 17 == 0).map { case (_, text) =>
      graft.util.PyStr.split(graft.util.PyStr.lower(text))
        .take(40).mkString(" ")
    }
  }

  /** Exact top-k ground truth for the FIXED query window
    * (vec_id < 500) with the operator's own rounding
    * (floor(x·1e5+0.5)/1e5) and tie-break (sim DESC, nid ASC). The
    * fixed window makes the truth side LINEAR in corpus size (500 × n
    * dots — the q81/q82 window pattern; a fractional sample grows
    * ~n²/k and was measured at 69 s per rep at sf1), corpus side
    * streamed, window side broadcast.
    */
  private def exactTopkSample(
      s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    // window side: COLUMN filter (parquet row-group pushdown) + one
    // driver collect of the fixed 500-id window, broadcast; corpus side
    // streams in ONE map-only pass. The former broadcast-nested-loop
    // join materialized |window|·n rows through the tuple encoder (two
    // Array[Float] decodes per pair) before the identical dot kernel.
    val e = s.read.parquet(t(d, "embeddings"))
      .select("vec_id", "embedding")
    val qArr = e.filter(col("vec_id") < 500)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(qArr)
    val sims = e.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        val pairs = it.flatMap { case (nid, nv) =>
          qs.iterator.collect {
            case (qid, qv) if qid != nid =>
              (qid, nid,
                math.floor(graft.similarity.Ann.dot(qv, nv) * 1e5 + 0.5) / 1e5)
          }
        }
        // fuse Ann.topK's per-partition prune into the kernel pass:
        // ≤|window|·k rows cross the object→row boundary instead of the
        // full |window|·n sim stream (the prune is idempotent, so the
        // downstream Ann.topK is unchanged)
        graft.similarity.Ann.localTopK(pairs, k)
      }
      .toDF("qid", "nid", "sim")
    // Ann.topK prunes per partition before the global rank window — the
    // |window|·n sim stream never hits a full-width shuffle
    graft.similarity.Ann.topK(sims, k).select("qid", "nid")
  }

  /** One-row recall summary: found vs truth on `on` columns. The gate is
    * part of the CONTRACT — the oracle emits `recall_ok` as literal
    * true, so a recall regression below `gate` hash-fails the driver
    * compare (the q46 bound-as-contract pattern, hardened).
    */
  private def recallRow(
      s: SparkSession, found: DataFrame, truth: DataFrame,
      on: Seq[String], gate: Double): DataFrame = {
    import s.implicits._
    // one full-outer join + aggregate: found and truth (both
    // distinct-keyed) are each evaluated ONCE — three separate count
    // jobs would re-run the operator and the exact-truth pipeline twice
    val r = found.select(on.map(col): _*).withColumn("in_f", lit(1L))
      .join(truth.select(on.map(col): _*).withColumn("in_t", lit(1L)),
        on, "full_outer")
      .agg(
        sum(coalesce(col("in_t"), lit(0L))).as("n_true"),
        sum(coalesce(col("in_f"), lit(0L))).as("n_found"),
        sum(coalesce(col("in_t") * col("in_f"), lit(0L))).as("n_hit"))
      .head()
    val (nTrue, nFound, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val recall =
      if (nTrue == 0) 1.0
      else math.floor(nHit.toDouble / nTrue * 1e4 + 0.5) / 1e4
    Seq((nTrue, nFound, nHit, recall, recall >= gate))
      .toDF("n_true", "n_found", "n_hit", "recall", "recall_ok")
  }

  /** Oracle for a top-k recall summary: n_true re-derived from the exact
    * O(|sample|·n) ground truth in SQL, n_found/n_hit from the found-set
    * fixture, recall re-divided — and recall_ok as literal TRUE, making
    * `recall ≥ gate` a hard driver gate.
    */
  private def topkRecallOracleSql(base: String): String =
    s"""WITH f AS (
       |  SELECT qid, nid
       |  FROM read_parquet('${oracleFixtureDir(base)}/*.parquet')),
       |ex AS (SELECT qid, nid FROM (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${dotMirror("a", "b")} DESC, b.vec_id) AS rk
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < 500 AND a.vec_id <> b.vec_id)
       |  WHERE rk <= 5),
       |m AS (SELECT
       |  (SELECT count(*) FROM ex) AS n_true,
       |  (SELECT count(*) FROM f) AS n_found,
       |  (SELECT count(*) FROM f JOIN ex USING (qid, nid)) AS n_hit)
       |SELECT CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_found AS BIGINT) AS n_found,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_true = 0 THEN 1.0
       |    ELSE floor(CAST(n_hit AS DOUBLE) / n_true * 10000 + 0.5) / 10000
       |    END AS recall,
       |  TRUE AS recall_ok
       |FROM m""".stripMargin

  /** Flagship: KG construction on the synthetic corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.triples(SynthCorpus.pages(spark, 100)).toDF()
  }

  // ----------------------------------------------------------------
  // helpers shared by a few queries
  // ----------------------------------------------------------------

  private def dotD(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- aggregations (SURVEY §2.4) ----------
    "q01_agg" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("n"))
    }),
    "q09_stats" -> ((s, d) => {
      s.read.parquet(t(d, "orders"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          round(avg("o_totalprice"), 2).as("avg_price"),
          round(stddev_samp("o_totalprice"), 2).as("sd_price"))
    }),
    "q10_histogram" -> ((s, d) => {
      s.read.parquet(t(d, "events")).groupBy("event_type")
        .agg(count(lit(1)).as("n"))
    }),
    "q12_conditional" -> ((s, d) => {
      s.read.parquet(t(d, "events"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") >= 0.5, 1).otherwise(0)).as("n_high"),
          round(avg("value"), 3).as("avg_value"))
    }),

    // ---------- filters / projections (§2.2) ----------
    "q02_filter" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_quantity") > 30)
        .select(
          col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
    }),

    // ---------- joins (§2.3) ----------
    "q03_join_broadcast" -> ((s, d) => {
      val orders = s.read.parquet(t(d, "orders"))
      val cust = s.read.parquet(t(d, "customer"))
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 1).as("rev"))
    }),
    "q04_join3" -> ((s, d) => {
      val li = s.read.parquet(t(d, "lineitem"))
      val o = s.read.parquet(t(d, "orders"))
      val c = s.read.parquet(t(d, "customer"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
    }),
    "q11_anti_join" -> ((s, d) => {
      val cust = s.read.parquet(t(d, "customer"))
      val orders = s.read.parquet(t(d, "orders"))
      val big = orders.filter(col("o_totalprice") > 150000)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey")
    }),

    // ---------- windows (§2.5) ----------
    "q05_window_running" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(t(d, "lineitem"))
        .filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          sum("l_quantity").over(w).as("run_qty"))
    }),
    "q06_window_rank" -> ((s, d) => {
      // argmax per suppkey under (shipdate DESC, orderkey ASC,
      // linenumber ASC) — as ONE hash aggregate (max of a struct whose
      // lexicographic order encodes the ranking; ascending components
      // ride negated) instead of row_number over a window: the aggregate
      // gets map-side partial aggregation, so the shuffle carries one
      // row per (partition, suppkey) instead of the whole table, and the
      // per-partition sort disappears (guide §2.3). (l_orderkey,
      // l_linenumber) is unique per row, so the rank-1 row is the same.
      s.read.parquet(t(d, "lineitem"))
        .select(col("l_suppkey"),
          struct(col("l_shipdate"),
            (-col("l_orderkey")).as("no"),
            (-col("l_linenumber")).as("nl")).as("k"))
        .groupBy("l_suppkey").agg(max("k").as("k"))
        .select(col("l_suppkey"),
          (-col("k.no")).as("l_orderkey"),
          (-col("k.nl")).as("l_linenumber"))
    }),

    // ---------- sorts / top-k (§2.6) ----------
    "q07_topk" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .groupBy("l_partkey").agg(sum("l_quantity").as("qty"))
        .orderBy(col("qty").desc, col("l_partkey"))
        .limit(30)
    }),

    // ---------- set ops (§2.7) ----------
    "q08_setops" -> ((s, d) => {
      val o = s.read.parquet(t(d, "orders")).select(col("o_custkey").as("k"))
      val c = s.read.parquet(t(d, "customer")).select(col("c_custkey").as("k"))
      o.union(c).distinct()
    }),

    "q47_except" -> ((s, d) => {
      val o = s.read.parquet(t(d, "orders"))
      val all = o.select(col("o_custkey").as("k")).distinct()
      val big = o.filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("k")).distinct()
      all.except(big)
    }),
    "q48_rollup" -> ((s, d) => {
      s.read.parquet(t(d, "orders"))
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
    }),

    // ---------- scalar functions (§2.8) ----------
    "q13_strings" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .select(
          col("doc_id"),
          length(col("text")).as("text_len"),
          upper(substring(col("text"), 1, 10)).as("head10"),
          regexp_replace(col("source"), "src", "source_").as("src_norm"))
    }),
    "q14_dates" -> ((s, d) => {
      s.read.parquet(t(d, "orders"))
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 1).as("rev"))
    }),
    "q15_categorize" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .select(
          col("doc_id"),
          when(col("text").contains("join"), "join_related")
            .when(col("text").contains("agg"), "agg_related")
            .when(col("text").contains("scan"), "scan_related")
            .otherwise("other").as("category"))
    }),
    "q16_doc_len" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"), length(col("text")).as("text_len"), col("n_chars"))
    }),

    // ---------- KG pipeline operators ----------
    // The pipeline output is materialized once to Materialize.Root (a pure
    // function of the corpus seed); DuckDB reads the same parquet, so these
    // are hard rows+schema+hash checks: q17-q19 gate that the live pipeline
    // reproduces the materialized run exactly, the downstream queries gate
    // the relational transforms themselves.
    "q17_kg_triples" -> ((s, _) => {
      import s.implicits._
      Materialize.ensure(s)
      Pipeline.triples(SynthCorpus.pages(s, Materialize.Docs)).toDF()
        .select("docId", "subj", "frame", "pred", "obj", "subjIsUri", "objIsUri")
    }),
    "q18_kg_entities" -> ((s, _) => {
      import s.implicits._
      Materialize.ensure(s)
      SynthCorpus.pages(s, Materialize.Docs).flatMap { p =>
        graft.link.EntityLink.link(p.url, p.text, graft.link.AliasDict.default)
      }.toDF()
    }),
    "q19_kg_frames" -> ((s, _) => {
      import s.implicits._
      Materialize.ensure(s)
      SynthCorpus.pages(s, Materialize.Docs).flatMap { p =>
        val sents = graft.extract.Segmenter.sentences(p.text)
        graft.frames.FrameDetect.detectDoc(sents).flatMap(sen =>
          sen.frames.map(f => (p.url, sen.index, f.name, f.elements.size)))
      }.toDF("url", "sent_idx", "frame", "n_elements")
    }),
    "q20_kg_ttl" -> ((s, _) => {
      import s.implicits._
      Materialize.triples(s).map(_.ttlLine).toDF("ttl_line")
    }),

    // ---------- dedup suite ----------
    "q21_dedup_exact" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
    }),
    "q22_dedup_norm" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .groupBy(md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("h"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
    }),
    // two INDEPENDENT band computations: run A materialized to a fixed
    // path for DuckDB, run B returned — the oracle gates hash STABILITY
    // across the two runs plus band structure (16 bands/doc, band∈[0,16))
    // via filters that drop rows on violation; the hash values themselves
    // are spec-gated (pure splitmix64/FNV, not ANSI-SQL-expressible)
    // FULL value-level since round 5: the oracle recomputes every band
    // hash from scratch in HUGEINT wrapping arithmetic (FNV-1a shingle
    // hash → splitmix64 finalize → 64 per-lane signed minima → the
    // 31-chain band reduction, which is LINEAR mod 2^64 and therefore a
    // plain SQL aggregation) — no fixture, no stability run
    "q23_minhash_lsh" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      graft.dedup.MinHashLsh.bands(docs).toDF()
    }),
    "q24_simhash" -> ((s, d) => {
      // native Expression with doGenCode — stays in whole-stage codegen,
      // unlike the Dataset.map/UDF formulation
      graft.expr.SimHash64Expr.register(s)
      s.read.parquet(t(d, "documents"))
        .selectExpr("doc_id", "simhash64(text) AS simhash")
    }),
    // EXACT hamming-neighborhood pairs via auto-sized block-combination
    // pigeonhole keys (SimHash.hammingPairs scaladoc) — deterministic,
    // so it gets a full value-level oracle. The oracle's own candidate
    // generator stays the simple 4x16-bit chunk OR-join over the q24
    // mirror: ANY pigeonhole family is exact after the popcount filter,
    // so oracle and operator agree regardless of the Spark-side block
    // count.
    "q71_simhash_pairs" -> ((s, d) => {
      graft.expr.SimHash64Expr.register(s)
      // corpus size from parquet footers, not docs.count(): plan
      // construction must not run a full extra scan+simhash pass
      graft.dedup.SimHash.hammingPairs(
        s.read.parquet(t(d, "documents"))
          .selectExpr("doc_id", "simhash64(text) AS h"),
        maxDist = 3,
        numDocsHint = graft.util.ParquetMeta.rowCount(s, t(d, "documents")))
    }),
    // scale-path simhash contract: one (doc_id, cluster) row per doc —
    // and, unlike the LSH cluster contract, fully DETERMINISTIC (exact
    // pair join + CC), so the whole output is value-level oracled via a
    // recursive-CTE connected components over the SQL-mirrored simhash
    "q72_simhash_clusters" -> ((s, d) => {
      graft.expr.SimHash64Expr.register(s)
      graft.dedup.SimHash.hammingClusters(
        s.read.parquet(t(d, "documents"))
          .selectExpr("doc_id", "simhash64(text) AS h"),
        maxDist = 3,
        numDocsHint = graft.util.ParquetMeta.rowCount(s, t(d, "documents")))
    }),

    // the scale-path dedup contract: one (doc_id, cluster) assignment per
    // document. LSH candidate recall is approximate (planted-dup +
    // 100k-clone specs are that gate), but the deterministic SUBSET is
    // DuckDB-oracled via the materialized fixture: completeness (exactly
    // one row per doc), cluster <= doc_id, representative closure
    // (cluster ids map to themselves), and exact clones (same md5)
    // sharing their keeper's cluster — violations drop/add oracle rows
    // and fail the row/hash gate
    "q65_near_dup_clusters" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      // caller-owned cache lifetime: the fixture write below is the
      // consuming action, so the scope closes right after it (bench mode
      // returns lazily — there the harness's between-query clearCache
      // owns the release)
      val scope = new graft.util.CacheScope
      val clusters = graft.dedup.MinHashLsh
        .nearDuplicateClusters(docs, threshold = 0.5, scope = scope)
        .toDF("doc_id", "cluster")
      val out = materialized(s, d, "graft_q65_clusters", clusters)
      if (!sys.props.contains("graft.bench")) scope.close()
      out
    }),

    // ---------- text analysis ----------
    // LSH near-dup pairs: approximate recall by contract, but the exact-
    // clone subset (jaccard = 1.0 from identical md5) is fully derivable
    // in SQL — the oracle unions it in, so a missing/mis-scored clone
    // pair or any structurally invalid row fails the row/hash gate
    "q49_near_dup_pairs" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      val scope = new graft.util.CacheScope
      val pairs = graft.dedup.MinHashLsh
        .nearDuplicatePairs(docs, threshold = 0.5, scope = scope)
        .toDF("a", "b", "jaccard")
        .withColumn("jaccard", round(col("jaccard"), 4))
      val out = materialized(s, d, "graft_q49_pairs", pairs)
      if (!sys.props.contains("graft.bench")) scope.close()
      out
    }),

    // typed-map formulation kept deliberately: a Column/higher-order-
    // function version was built and MEASURED ~1.8x slower (HOF lambdas
    // are CodegenFallback — interpreted per element — while the scalar
    // scorer is a tight single pass and the encoder round-trip is cheap
    // next to it); see BENCH.md "measured, not guessed" note
    "q50_quality_score" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents")).select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val q = graft.text.Quality.score(text)
          (id, q.n_tokens, q.mean_token_len, q.stopword_ratio, q.punct_ratio,
            q.digit_ratio, q.composite)
        }
        .toDF("doc_id", "n_tokens", "mean_token_len", "stopword_ratio",
          "punct_ratio", "digit_ratio", "composite")
    }),
    // native Expression with doGenCode (the scalar-kernel codegen route;
    // see the simhash64 pattern) — no encoder round-trip per row
    "q51_bpe_tokens" -> ((s, d) => {
      graft.expr.BpeCount32Expr.register(s)
      s.read.parquet(t(d, "documents"))
        .selectExpr("doc_id", "bpe_count(text) AS n_pieces")
    }),

    // end-to-end curation: langid + quality floor in ONE text pass, then
    // exact-dedup keeper selection among survivors; one verdict row per
    // input doc with the rejecting stage (nothing silently dropped)
    "q69_curation" -> ((s, d) => {
      import s.implicits._
      graft.pipeline.Curate.curateExact(
        s.read.parquet(t(d, "documents"))
          .select("doc_id", "text").as[(Long, String)])
    }),
    // the FULL cascade: lang → quality → repetition → dedup, all
    // signals in one text pass, every stage's mirror composed into one
    // value-level oracle
    "q76_curation_full" -> ((s, d) => {
      import s.implicits._
      graft.pipeline.Curate.curateFull(
        s.read.parquet(t(d, "documents"))
          .select("doc_id", "text").as[(Long, String)])
    }),

    // benchmark decontamination (C4/GPT-3/Gopher 13-gram protocol): the
    // benchmark set is synthesized DETERMINISTICALLY from the corpus
    // itself (first 40 tokens of every 17th doc), so contamination is
    // real (those docs and their clones must flag) and the oracle
    // recomputes n_hits value-level from raw string n-grams
    "q77_decontaminate" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      graft.dedup.Decontaminate.ngramOverlap(docs, decontamBench(docs), n = 13)
    }),
    // full cascade + decontamination stage: lang → quality → repetition
    // → contaminated → dedup keeper, one text pass (the benchmark grams
    // ride the broadcast), every stage mirrored into one composed
    // value-level oracle
    "q78_curation_decontam" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      graft.pipeline.Curate.curateDecontaminated(docs,
        graft.dedup.Decontaminate.benchmarkGramArray(decontamBench(docs), 13))
    }),

    // ---------- driver-oracled RECALL for the approximate family ----------
    // Every emitted row of q42/q49/q52/q61 is already value-level oracled;
    // these close the last unoracled dimension — which neighbors/pairs got
    // FOUND — by recomputing the exact ground truth on a bounded slice
    // (sampled queries / a fixed id window: cost is sf-independent on the
    // truth side) and hash-gating the recall fraction. The oracle emits
    // recall_ok as literal TRUE, so recall below the gate is a hard
    // driver FAIL, not just a visible false.
    //
    // Gates are calibrated to the operator's measured behavior on this
    // corpus's near-random embeddings (at sf0.01 the 500-id window IS
    // the whole corpus: LSH 0.9036, IVF 0.8264, near-dup 1.0,
    // cosine-LSH 0.9151): LSH/pairs gate at 0.9; IVF at 0.8 —
    // autoNprobe trades recall for constant per-query work, and the
    // ≥0.9-on-clustered-data contract stays spec-gated (StreamingAnnSpec).
    "q79_ann_lsh_recall" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val found = graft.similarity.Ann.lshTopK(vecs, k = 5, tables = 16,
          bits = graft.similarity.Ann.autoBits(
            graft.util.ParquetMeta.rowCount(s, t(d, "embeddings"))))
        .filter(col("qid") < 500).select("qid", "nid")
      val fFix = materialized(s, d, "graft_q79_found", found)
      recallRow(s, fFix, exactTopkSample(s, d, 5), Seq("qid", "nid"), 0.9)
    }),
    "q80_ann_ivf_recall" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val nlist = graft.similarity.Ann.autoNlist(
        graft.util.ParquetMeta.rowCount(s, t(d, "embeddings")))
      val found = graft.similarity.Ann.ivfTopK(vecs, k = 5, nlist = nlist,
          nprobe = graft.similarity.Ann.autoNprobe(nlist))
        .filter(col("qid") < 500).select("qid", "nid")
      val fFix = materialized(s, d, "graft_q80_found", found)
      recallRow(s, fFix, exactTopkSample(s, d, 5), Seq("qid", "nid"), 0.8)
    }),
    // streaming curation end-to-end through the production sink: the
    // full signal cascade rides the stream map-only; keeper selection is
    // the only state (md5 → keeper id). Batch-equivalent on this staged
    // corpus (monotone event time, span << watermark), so the oracle is
    // the batch cascade's FULL value-level mirror (q76's, verbatim)
    "q84_stream_curate" -> ((s, d) => {
      import s.implicits._
      // batch-equivalence assumptions (with the monotone-event-time one):
      // the staged files arrive as ONE AvailableNow micro-batch (file
      // sources list-all then split by maxFilesPerTrigger, unset here),
      // so keeper selection sees the whole corpus in (ts, doc_id) order
      // — were the source ever to split batches, a later batch could
      // keep a larger doc_id and diverge from the batch window's min
      val dir = new java.io.File(fixtureDir("graft_q84_docs", d))
      // core-count range-partitioned staging files — the stream's scoring
      // pass parallelism (see the q70 staging note); still ONE
      // AvailableNow micro-batch
      if (!new java.io.File(dir, "_SUCCESS").exists())
        s.read.parquet(t(d, "documents")).select("doc_id", "text")
          .as[(Long, String)]
          .map { case (id, text) => graft.streaming.StreamingDedup.DocIn(
            id, new java.sql.Timestamp(1600000000000L + id * 1000L), text) }
          .toDF()
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .write.mode("overwrite").parquet(dir.toString)
      val out = fixtureDir("graft_q84_out", d)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      graft.streaming.StreamingCurate.run(s, dir.toString, "q84_curate", out)
      s.read.parquet(out).select("doc_id", "lang_pred", "composite",
        "top_bigram_frac", "dup_line_frac", "verdict", "kept")
    }),

    // Unicode NFC normalization + control strip (C4-style mojibake
    // cleanup). Decomposed accents and a control char are PLANTED per
    // doc (identical concat on both sides) so the value-level oracle
    // has real work to check
    "q87_nfc_normalize" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"),
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve\u0007"),
            (col("doc_id") % 7).cast("string")).as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val c = graft.text.Normalize.clean(text)
          (id, c != text, c)
        }
        .toDF("doc_id", "changed", "clean")
        .select(col("doc_id"), col("changed"), md5(col("clean")).as("clean_md5"))
    }),
    // cross-document line-level boilerplate removal (the Dolma/CCNet
    // paragraph-dedup shape): a shared footer line is planted in every
    // doc plus a per-doc unique line — drops must be real AND partial
    "q88_line_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select(col("doc_id"),
          concat(col("text"),
            lit("\nSHARED FOOTER COOKIE BANNER\nunique line "),
            col("doc_id").cast("string")).as("text"))
        .as[(Long, String)]
      graft.dedup.LineDedup.dropBoilerplate(docs, minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_dropped"),
          md5(col("clean")).as("clean_md5"))
    }),

    // sequence packing (concat-and-chunk, the GPT training layout):
    // global token spans + chunk ranges per doc via the SCALABLE
    // running sum (arithmetic range buckets + broadcast offsets — no
    // global-order window; PlanQualitySpec asserts no single-partition
    // exchange). FULL value-level oracle: SQL window cumsum
    "q85_seq_pack" -> ((s, d) => {
      import s.implicits._
      graft.pipeline.Pack.concatChunks(
        s.read.parquet(t(d, "documents"))
          .select("doc_id", "text").as[(Long, String)],
        chunkTokens = 512)
    }),
    // deterministic stratified sampling (the corpus-mixing stage):
    // keep-decision is a pure function of content (md5-prefix uniform),
    // so the mix is reproducible and exactly SQL-mirrorable
    "q86_mix_sample" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, "web")
            .when(pmod(col("doc_id"), lit(3)) === 1, "books")
            .otherwise("code").as("stratum"),
          col("text"))
        .as[(Long, String, String)]
      graft.pipeline.Mix.sampleByStratum(docs,
        Map("web" -> 0.5, "books" -> 0.9, "code" -> 0.1)).toDF()
    }),

    // canonical URL normalization (the crawl-side canonicalization:
    // re-crawls and mirrors collapse before url-keyed dedup/upsert).
    // Messy url variants are PLANTED per doc_id — upper-case host,
    // default port, utm params, unsorted query, fragment — identically
    // on both sides; the oracle runs the same regex + steps in SQL
    "q90_url_canon" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"),
          concat(lit("HTTP://ExAmple-"), (col("doc_id") % 5).cast("string"),
            lit(".CoM:80/Path/"), col("doc_id").cast("string"),
            lit("?utm_source=feed&b="), (col("doc_id") % 7).cast("string"),
            lit("&a=1#sec")).as("url"))
        .as[(Long, String)]
        .map { case (id, url) => (id, url, graft.canon.UrlNorm.canonical(url)) }
        .toDF("doc_id", "url", "canon")
    }),

    // the whole training-data story in ONE deterministic DAG:
    // curate (full cascade) → mix (stratified content-hash sampling)
    // → pack (concat-and-chunk). Every stage is individually oracled
    // (q76/q86/q85); this composes their mirrors into one oracle, so
    // the HAND-OFFS between stages are gated too
    "q89_train_pipeline" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      // the `kept` join lineage feeds BOTH the mix path and the final
      // pack input, so without a cache the curation scoring pass (the
      // cascade's whole per-doc CPU cost) evaluates twice per action.
      // Cache the ID tables only — doc_id rows, never corpus text (the
      // r5 no-text-caching rule); the scope stays open because the
      // result is lazy — the harness's between-query clearCache() owns
      // cache lifetime (the operator-default-scope convention).
      val scope = new graft.util.CacheScope
      val keptIds = scope.own(graft.pipeline.Curate.curateFull(docs)
        .filter(col("kept")).select("doc_id"))
      val kept = docs.toDF("doc_id", "text").join(keptIds, "doc_id")
      val strat = kept
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, "web")
            .when(pmod(col("doc_id"), lit(3)) === 1, "books")
            .otherwise("code").as("stratum"),
          col("text"))
        .as[(Long, String, String)]
      val sampledIds = scope.own(graft.pipeline.Mix.sampleByStratum(strat,
          Map("web" -> 0.5, "books" -> 0.9, "code" -> 0.1))
        .filter(_.kept).toDF().select("doc_id"))
      val sampled = kept.join(sampledIds, "doc_id")
        .select("doc_id", "text").as[(Long, String)]
      graft.pipeline.Pack.concatChunks(sampled, chunkTokens = 512)
    }),

    // int8 ANN SEARCH path (the serve-time win of q73's storage cut):
    // top-k directly over (scale, codes) with the integer dot kernel —
    // no dequantized store anywhere in the plan. Emitted rows are
    // value-level checked against the quantized-dot mirror; overlap vs
    // the float path is spec-gated (StreamingAnnSpec)
    "q83_ann_int8" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val q = graft.similarity.Quantize.int8(vecs)
        .as[(Long, Double, Array[Byte])]
      val topk = graft.similarity.Ann.lshTopKI8(q, k = 5, tables = 16,
        bits = graft.similarity.Ann.autoBits(
          graft.util.ParquetMeta.rowCount(s, t(d, "embeddings"))))
      materialized(s, d, "graft_q83_topk", topk)
    }),

    // near-dup pair recall on the doc_id < 500 window: truth = ALL window
    // pairs with exact shingle-jaccard ≥ 0.5 (the window bounds the O(n²)
    // truth at 124,750 pairs REGARDLESS of sf — the q30/q60
    // bounded-exact-baseline pattern); found = the production operator on
    // the full corpus, intersected with the window
    "q81_near_dup_recall" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
      val scope = new graft.util.CacheScope
      val found = graft.dedup.MinHashLsh
        .nearDuplicatePairs(docs, threshold = 0.5, scope = scope)
        .toDF("a", "b", "j")
        .filter(col("a") < 500 && col("b") < 500).select("a", "b")
      val fFix = materialized(s, d, "graft_q81_found", found)
      // truth: per-doc shingle hash sets broadcast (≤500 docs), pair
      // grid evaluated distributed — exact, no text re-shipping.
      // Column filter, not a typed closure: the predicate reaches the
      // parquet scan (row-group stats skip), so the window pass stops
      // reading the whole corpus's text column
      val win = s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").filter(col("doc_id") < 500)
        .as[(Long, String)]
      val sets = win.map { case (id, text) =>
        (id, graft.dedup.MinHashLsh.shingles(text).toArray.distinct.sorted)
      }.collect()
      val bc = s.sparkContext.broadcast(sets.toMap)
      val ids = sets.map(_._1).sorted
      val truth = s.sparkContext.parallelize(
          for { i <- ids.indices; j <- i + 1 until ids.length }
            yield (ids(i), ids(j)), 32)
        .map { case (a, b) =>
          val sa = bc.value(a); val sb = bc.value(b)
          var ia = 0; var ib = 0; var inter = 0
          while (ia < sa.length && ib < sb.length) {
            if (sa(ia) == sb(ib)) { inter += 1; ia += 1; ib += 1 }
            else if (sa(ia) < sb(ib)) ia += 1
            else ib += 1
          }
          val union = sa.length + sb.length - inter
          val jac = if (union == 0) 1.0 else inter.toDouble / union
          (a, b, jac)
        }
        .filter(_._3 >= 0.5).toDF("a", "b", "j").select("a", "b")
      val out = recallRow(s, fFix, truth, Seq("a", "b"), 0.9)
      if (!sys.props.contains("graft.bench")) scope.close()
      out
    }),
    // cosine near-dup pair recall on the vec_id < 500 window (same
    // bounded-truth shape; found = the q61 operator config on the full
    // corpus)
    "q82_cosine_dup_recall" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val found = graft.similarity.Ann.cosineDupPairsLsh(vecs, tau = 0.35,
          tables = 16,
          bits = graft.similarity.Ann.autoBits(
            graft.util.ParquetMeta.rowCount(s, t(d, "embeddings")),
            targetBucket = 64))
        .filter(col("a") < 500 && col("b") < 500).select("a", "b")
      val fFix = materialized(s, d, "graft_q82_found", found)
      // bounded-window truth via the q81 pattern: column-filtered window
      // collect (parquet pushdown) + broadcast, pair grid distributed —
      // the former |win|² broadcast-nested-loop join paid two
      // Array[Float] encoder decodes per pair for the same dot kernel
      val winArr = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").filter(col("vec_id") < 500)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val bcw = s.sparkContext.broadcast(winArr)
      val truth = s.sparkContext.parallelize(winArr.indices, 32)
        .flatMap { i =>
          val arr = bcw.value
          val (a, va) = arr(i)
          Iterator.range(i + 1, arr.length).flatMap { j =>
            val (b, vb) = arr(j)
            val sim =
              math.floor(graft.similarity.Ann.dot(va, vb) * 1e5 + 0.5) / 1e5
            if (sim >= 0.35) Iterator.single((a, b)) else Iterator.empty
          }
        }.toDF("a", "b")
      recallRow(s, fFix, truth, Seq("a", "b"), 0.9)
    }),

    "q25_token_count" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    }),
    "q26_quality" -> ((s, d) => {
      val tokens = size(split(trim(col("text")), "\\s+"))
      s.read.parquet(t(d, "documents"))
        .select(
          col("doc_id"),
          tokens.as("n_tokens"),
          round(
            (length(col("text")) - tokens + 1).cast("double") / tokens, 3)
            .as("avg_token_len"))
    }),
    // typed map kept deliberately — see the q50 note (the HOF-column
    // variant measured slower, CodegenFallback)
    "q27_langid" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents")).select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val (lang, score) = graft.text.LangId.detect(text)
          (id, lang, score)
        }.toDF("doc_id", "lang_pred", "score")
    }),
    // native Expression with doGenCode (scalar-kernel codegen route)
    "q28_fingerprint" -> ((s, d) => {
      graft.expr.Fingerprint64Expr.register(s)
      s.read.parquet(t(d, "documents"))
        .selectExpr("doc_id", "fingerprint64(text) AS fingerprint")
    }),
    // winnowing-style k-gram min fingerprint (robust to local edits)
    "q67_winnow_fingerprint" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents")).select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) => (id, graft.text.Fingerprint.kgramMin64(text)) }
        .toDF("doc_id", "winnow")
    }),

    // ---------- embeddings / similarity ----------
    "q29_embed_norm" -> ((s, d) => {
      s.read.parquet(t(d, "embeddings"))
        .select(
          col("vec_id"),
          round(sqrt(dotD(col("embedding"), col("embedding"))), 4).as("l2"))
    }),
    "q30_cosine_knn" -> ((s, d) => {
      val e = s.read.parquet(t(d, "embeddings"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sims = q.crossJoin(broadcast(e.select(col("vec_id").as("nid"), col("embedding").as("nv"))))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), round(dotD(col("qv"), col("nv")), 5).as("sim"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
      sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("qid", "nid", "sim", "rk")
    }),

    // ---------- graph: connected components + degree ----------
    "q32_connected_components" -> ((s, d) => {
      val edges = s.read.parquet(t(d, "lineitem"))
        .filter(col("l_orderkey") < 300)
        .select(
          concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      graft.canon.Canonicalize.connectedComponents(edges)
    }),
    "q33_degree_topk" -> ((s, d) => {
      val edges = s.read.parquet(t(d, "lineitem"))
        .filter(col("l_orderkey") < 300)
        .select(
          concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("node"))
        .limit(30)
    }),

    // ---------- typed literals (F6) ----------
    "q34_typed_literals" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .select(
          col("doc_id"),
          col("n_chars").cast("string").as("v"),
          graft.rdf.Literals.xsdTypeOf(col("n_chars").cast("string")).as("xsd_type"))
    }),

    // ---------- per-group stats (A6 analogue) ----------
    "q35_source_metrics" -> ((s, d) => {
      s.read.parquet(t(d, "documents"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n"),
          round(avg("n_chars"), 3).as("avg_chars"),
          round(stddev_samp("n_chars"), 3).as("sd_chars"),
          sum(when(col("n_chars") >= 400, 1).otherwise(0)).as("bucket_high"),
          sum(when(col("n_chars") >= 200 && col("n_chars") < 400, 1).otherwise(0)).as("bucket_mid"),
          sum(when(col("n_chars") < 200, 1).otherwise(0)).as("bucket_low"))
    }),

    // ---------- skew: count per key (partial aggregation bounds a hot key) ----------
    "q36_salted_count" -> ((s, d) =>
      s.read.parquet(t(d, "lineitem")).groupBy("l_partkey").agg(count(lit(1)).as("n"))),

    // ---------- exports + canonicalization over the KG (oracled) ----------
    "q37_edges_export" -> ((s, _) =>
      graft.io.Exports.edgesCsv(Materialize.triples(s))),
    "q38_predicate_histogram" -> ((s, _) =>
      graft.io.Exports.predicateHistogram(Materialize.triples(s))),
    // canonicalization with deterministic http→https spelling variants
    // injected on ~25% of URI subjects — the crawl-side URI aliasing this
    // operator exists for (genuinely ambiguous surfaces are excluded, so
    // only same-entity variants merge); md5-keyed so the DuckDB oracle
    // derives the identical variant set and expected rewrite
    "q39_canonicalized" -> ((s, _) => {
      import s.implicits._
      def vary(uri: Column, doc: Column): Column =
        substring(md5(concat_ws("|", doc, uri)), 1, 1).isin("0", "1", "2", "3") &&
          uri.startsWith("http://")
      def httpsForm(uri: Column): Column =
        concat(lit("https://"), uri.substr(lit(8), lit(Int.MaxValue)))
      val t0 = Materialize.triples(s).toDF()
      val varied = t0.withColumn("subj",
        when(vary(col("subj"), col("docId")) && col("subjIsUri"),
          httpsForm(col("subj"))).otherwise(col("subj"))).as[graft.model.Triple]
      val ents = Materialize.entities(s)
      val mentionUri = ents.select(col("mention"), col("uri"))
        .union(ents.filter(vary(col("uri"), col("docId")))
          .select(col("mention"), httpsForm(col("uri")).as("uri")))
      graft.canon.Canonicalize.canonicalize(varied, mentionUri)
        .toDF().select("docId", "subj", "frame", "pred", "obj")
    }),
    // RAG-JSON grouping/nesting as a deterministic digest (the JSON string
    // itself is engine-specific formatting — rendered by Exports.ragJson,
    // spec-tested; the *grouping* is what the oracle hashes)
    "q40_rag_json" -> ((s, _) => {
      graft.io.Exports.reparsed(Materialize.triples(s))
        .groupBy("docId")
        .agg(
          count(lit(1)).as("total_triples"),
          md5(concat_ws("\n", sort_array(collect_list(
            concat_ws("|", col("subject"), col("predicate"), col("object"))))))
            .as("triples_digest"))
    }),

    // ---------- multimodal binary columns (REAL javax.imageio decode) ----------
    "q41_multimodal" -> ((s, d) => {
      import s.implicits._
      System.setProperty("java.awt.headless", "true")
      val media = s.read.parquet(t(d, "documents"))
        .select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.BinaryFeatures.syntheticPng(
            (id % 31 + 1).toInt, (id % 17 + 1).toInt, (id % 251).toInt))
        }
      graft.multimodal.BinaryFeatures.extract(media).toDF()
        .select("doc_id", "kind", "width", "height", "n_frames", "mean_byte")
    }),

    // ---------- evaluation aggregates (A5–A7) over enriched triples ----------
    "q43_eval_metrics" -> ((s, _) =>
      graft.metrics.Aggregates.perDocMetrics(Materialize.enriched(s))),
    "q44_eval_rollup" -> ((s, _) =>
      graft.metrics.Aggregates.corpusRollup(
        graft.metrics.Aggregates.perDocMetrics(Materialize.enriched(s)))),

    // LSH/IVF hyperparameters derived from |corpus| (Ann.autoBits/
    // autoNlist): fixed constants measured 20-40x slower at the 10x
    // scale-up bench because bucket/cell population grew linearly.
    // Candidate RECALL is approximate by contract, but each emitted row
    // is deterministic — the partial oracle recomputes every sim
    // exactly in SQL and re-derives rk within the emitted set (see
    // oracleSql); only which neighbors were FOUND stays Spark-gated.
    "q42_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      // auto-size from footer metadata (no count job at plan build)
      val topk = graft.similarity.Ann.lshTopK(vecs, k = 5, tables = 16,
        bits = graft.similarity.Ann.autoBits(
          graft.util.ParquetMeta.rowCount(s, t(d, "embeddings"))))
      materialized(s, d, "graft_q42_topk", topk)
    }),
    "q52_ann_ivf" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val nlist = graft.similarity.Ann.autoNlist(
        graft.util.ParquetMeta.rowCount(s, t(d, "embeddings")))
      val topk = graft.similarity.Ann.ivfTopK(vecs, k = 5, nlist = nlist,
        nprobe = graft.similarity.Ann.autoNprobe(nlist))
      materialized(s, d, "graft_q52_topk", topk)
    }),

    // Gopher/Dolma repetition quality signals — the classic boilerplate/
    // keyword-stuffing filters; map-only, value-level oracled
    "q75_repetition" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents"))
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val sg = graft.text.Repetition.signals(text)
          (id, sg.n_words, sg.top_word_frac, sg.top_bigram_frac,
            sg.dup_line_frac, sg.dup_10gram_frac)
        }
        .toDF("doc_id", "n_words", "top_word_frac", "top_bigram_frac",
          "dup_line_frac", "dup_10gram_frac")
    }),

    // PII redaction (the C4/Dolma-style curation scrub): emails → IPs →
    // phone-shaped runs masked in a fixed order with per-kind counts.
    // Deterministic PII is PLANTED per doc_id (identical concat on both
    // sides) so the value-level oracle has real work to check — counts
    // and an md5 of the redacted text both compare
    "q74_pii_redact" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com at 192.168."),
            (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"),
            lit(" or +1 (555) 010-"),
            (col("doc_id") % 10000).cast("string"),
            lit(".")).as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val r = graft.text.Redact.redact(text)
          (id, r.n_emails, r.n_ips, r.n_phones, r.clean)
        }
        .toDF("doc_id", "n_emails", "n_ips", "n_phones", "clean")
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          col("n_phones"), md5(col("clean")).as("clean_md5"))
    }),

    // int8 embedding quantization (the 100 TB storage path: 4x smaller
    // embedding column) — double arithmetic end-to-end, so the codes
    // are bit-deterministic and fully value-level oracled (the codes
    // array is compared via an md5 digest of its comma-joined form;
    // scale compares as an exact double)
    "q73_embed_quantize" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      // codes are a BinaryType column (1 byte/component — the actual 4x
      // cut); the digest string is built from the signed byte values so
      // the SQL mirror's BIGINT casts compare identically
      graft.similarity.Quantize.int8(vecs)
        .as[(Long, Double, Array[Byte])]
        .map { case (id, scale, codes) => (id, scale, codes.mkString(",")) }
        .toDF("vec_id", "scale", "codes_str")
        .select(col("vec_id"), col("scale"),
          md5(col("codes_str")).as("codes_md5"))
    }),

    // quantile summary: exact discrete percentiles (SQL-standard
    // percentile_disc) oracled value-for-value, plus an in-query gate
    // that the t-digest approx_percentile lands within 1% relative error
    // (the sketch values themselves are engine-specific — the BOUND is
    // the checkable contract, same pattern as q46)
    "q68_quantiles" -> ((s, d) => {
      val li = s.read.parquet(t(d, "lineitem"))
      val probs = Seq(0.25, 0.5, 0.75, 0.95)
      // ONE t-digest for all four approx percentiles (array form) — the
      // former per-percentile approx_percentile calls each built their
      // own full sketch over the column (4x the insert work and buffer
      // memory for identical answers: same inserts → same sketch).
      // percentile_disc keeps one buffer per percentile — Spark has no
      // array form for it, and its exact values are the oracle contract.
      val discs = probs.map { p =>
        expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as(s"p${(p * 100).toInt}")
      }
      val approxArr = expr(
        s"approx_percentile(l_extendedprice, array(${probs.map(p => s"${p}D").mkString(",")}), 10000)")
        .as("aarr")
      val row = li.agg(discs.head, (discs.tail :+ approxArr): _*)
      probs.zipWithIndex.foldLeft(row) { case (df, (p, i)) =>
        val tag = (p * 100).toInt
        df.withColumn(s"ok$tag",
          abs(element_at(col("aarr"), i + 1) - col(s"p$tag")) <=
            abs(col(s"p$tag")) * 0.01)
      }.drop("aarr")
    }),

    // A4 at scale: exact distinct (oracled) + an in-query assertion that
    // the HLL estimate lands within its 1% target (the estimate itself is
    // engine-specific, the *bound* is the checkable contract)
    "q46_approx_distinct" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .agg(
          countDistinct("l_partkey").as("exact_parts"),
          approx_count_distinct("l_partkey", 0.01).as("approx_parts"))
        .select(
          col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("approx_ok"))
    }),

    // streaming KG construction end-to-end: pages parquet → readStream →
    // per-doc transform → watermark dedup → memory sink. Oracled against
    // the batch-computed expected output (stream == batch equivalence).
    "q45_stream_triples" -> ((s, _) => {
      import s.implicits._
      Materialize.ensure(s)
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q45_pages")
      // staging written once per JVM (the Materialize.ensure discipline:
      // always overwrite on first touch, never trust a stale on-disk copy
      // from an older code version) — the pages are a pure function of
      // (StreamDocs, StreamSeed), and the operator under test is the
      // STREAM over them, which still runs fully on every invocation
      q45Lock.synchronized {
        if (!q45Staged) {
          SynthCorpus.pages(s, Materialize.StreamDocs, seed = Materialize.StreamSeed)
            .write.mode("overwrite").parquet(dir.toString)
          q45Staged = true
        }
      }
      graft.streaming.StreamingPipeline.runOnce(s, dir.toString, "q45_out")
    }),

    // streaming near-dup dedup end-to-end through the PRODUCTION sink:
    // docs parquet → readStream → stateful LSH band buckets → per-batch
    // verdicts written to a parquet table by executors (no driver
    // collect), read back as the query result (rows-only: LSH candidate
    // recall is approximate; StreamingDedupSpec carries the correctness
    // gates incl. a checkpoint restart and eviction-miss trade-off)
    "q70_stream_dedup" -> ((s, d) => {
      import s.implicits._
      // staging keyed by source dir (verify at sf0.01 and bench at sf0.1
      // must not clobber each other) and written once per corpus — the
      // stream input is a pure function of the sf dir
      val dir = new java.io.File(fixtureDir("graft_q70_docs", d))
      // _SUCCESS, not dir existence: a crash mid-write must not leave a
      // half-staged corpus that every later run silently streams
      // staged at core-count files via doc_id RANGE partitioning (the old
      // coalesce(4) was a no-op down to the 1–2 scan partitions of the
      // source parquet, so the stream's per-doc SIGNATURE pass — its
      // compute-heavy stage — ran on 1–2 tasks). Each file is a
      // contiguous id range; the operative batch-equivalence guarantee
      // stays AvailableNow-with-unset-maxFilesPerTrigger = ONE micro-
      // batch (no mid-run eviction), and the oracle's ceil(n/4) horizon
      // backoff additionally absorbs per-file spans whenever ≥4 roughly
      // even ranges are staged (RangePartitioner bounds are sampled, so
      // spans are approximate — do not set maxFilesPerTrigger on this
      // source without revisiting the q70 oracle's margin). One-time
      // cost, guarded by _SUCCESS
      if (!new java.io.File(dir, "_SUCCESS").exists())
        s.read.parquet(t(d, "documents")).select("doc_id", "text").as[(Long, String)]
          .map { case (id, text) => graft.streaming.StreamingDedup.DocIn(
            id, new java.sql.Timestamp(1600000000000L + id * 1000L), text) }
          .toDF()
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .write.mode("overwrite").parquet(dir.toString)
      // fresh verdict table per invocation: no streaming checkpoint, so
      // AvailableNow replays the full corpus and stale batch partitions
      // must not survive into the read-back
      val out = fixtureDir("graft_q70_out", d)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      graft.streaming.StreamingDedup.run(
        s, dir.toString, "q70_dedup", out, threshold = 0.8)
      s.read.parquet(out).select("doc_id", "dup_of", "est")
    }),

    // ---------- streaming (§2.10) ----------
    "q31_stream_window" -> ((s, d) => {
      val schema = s.read.parquet(t(d, "events")).schema
      val name = "q31_stream_out"
      s.streams.active.filter(_.name == name).foreach(_.stop())
      // file-stream source wants a directory: stream the sf dir, globbed
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
      val query = stream.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      query.processAllAvailable()
      query.stop()
      s.table(name)
    }),

    // ---------- F3: sentence-boundary truncation (reduce_author_contents.py) ----------
    // (periods injected deterministically — the synthetic documents carry
    // none — so both the boundary-cut and ellipsis branches execute)
    "q53_truncate" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"), regexp_replace(col("text"), "table", "table\\.").as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, graft.text.Truncate.toSentenceBoundary(text, maxChars = 200))
        }
        .toDF("doc_id", "truncated")
    }),

    // ---------- F12: categorization over KG triples and nodes ----------
    "q54_triple_categories" -> ((s, _) => {
      val p = graft.io.Exports.reparsed(Materialize.triples(s))
      p.select(
        col("docId"), col("subject"), col("predicate"), col("object"),
        graft.io.Exports.tripleCategory(
          col("subject"), col("predicate"), col("object")).as("category"))
    }),
    "q57_node_classify" -> ((s, _) =>
      graft.io.Exports.categorizeNodes(Materialize.triples(s))),

    // ---------- J3: triple↔evaluation fuzzy containment join ----------
    "q55_eval_join" -> ((s, _) =>
      graft.io.Exports.enrichedTriples(Materialize.triples(s), Materialize.evals(s))),

    // ---------- S7: SPARQL template export ----------
    "q56_sparql_templates" -> ((s, _) =>
      graft.io.Exports.sparqlTemplates(Materialize.triples(s))),

    // ---------- source adapter: JSON-lines pages → identical KG ----------
    "q63_jsonl_source" -> ((s, _) => {
      Materialize.ensure(s)
      val pages = graft.sources.PageSources.jsonl(s, s"${Materialize.Root}/pages_jsonl")
      Pipeline.triples(pages).toDF()
        .select("docId", "subj", "frame", "pred", "obj", "subjIsUri", "objIsUri")
    }),

    // ---------- SQL surface: the KG as temp views + spark.sql text ----------
    "q62_sql_top_objects" -> ((s, _) => {
      Materialize.triples(s).toDF().createOrReplaceTempView("kg_triples")
      s.sql(
        """SELECT frame, pred, obj, n, rk FROM (
          |  SELECT frame, pred, obj, count(*) AS n,
          |    row_number() OVER (PARTITION BY frame, pred
          |      ORDER BY count(*) DESC, obj) AS rk
          |  FROM kg_triples
          |  WHERE objIsUri
          |  GROUP BY frame, pred, obj)
          |WHERE rk <= 3""".stripMargin)
    }),

    // ---------- A11: corpus reduction summary ----------
    "q58_reduction_summary" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(t(d, "documents"))
        .select(col("doc_id"), regexp_replace(col("text"), "table", "table\\.").as("text"))
        .as[(Long, String)]
      graft.text.Truncate.reductionSummary(docs, maxChars = 200)
    }),

    // ---------- embedding-cosine near-dup pairs ----------
    "q60_cosine_dup_exact" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      graft.similarity.Ann.cosineDupPairsExact(vecs, tau = 0.35)
    }),
    // the scale path: rows-only here (LSH candidate recall is inherent to
    // the approximation); recall ≥0.9 gated on clustered embeddings in
    // StreamingAnnSpec
    "q61_cosine_dup_lsh" -> ((s, d) => {
      import s.implicits._
      val vecs = s.read.parquet(t(d, "embeddings"))
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      // tighter buckets than the top-k path (targetBucket 64): near-dup
      // candidates only need pairs ABOVE tau, so smaller buckets lose
      // little recall and skip most sub-threshold work
      val pairs = graft.similarity.Ann.cosineDupPairsLsh(vecs, tau = 0.35,
        tables = 16,
        bits = graft.similarity.Ann.autoBits(
          graft.util.ParquetMeta.rowCount(s, t(d, "embeddings")),
          targetBucket = 64))
      materialized(s, d, "graft_q61_pairs", pairs)
    }),

    // ---------- S7: DOT graph text export ----------
    "q64_dot_export" -> ((s, _) =>
      graft.io.Exports.dotGraphs(
        graft.io.Exports.enrichedTriples(Materialize.triples(s), Materialize.evals(s)))),

    // ---------- multimodal: REAL WAV/MP4 header probes ----------
    // fixtures are pure functions of doc_id (like q41's PNGs), so the real
    // RIFF-fmt/data and moov/mvhd byte parsing is checkable by arithmetic
    "q66_av_probe" -> ((s, d) => {
      import s.implicits._
      val media = s.read.parquet(t(d, "documents")).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes =
            if (id % 2 == 0)
              graft.multimodal.BinaryFeatures.syntheticWav(
                (8000 + (id % 8) * 1000).toInt,
                ((id / 2) % 2 + 1).toInt,
                (id % 500 + 100).toInt)
            else
              graft.multimodal.BinaryFeatures.syntheticMp4(
                ((id % 9 + 1) * 600).toInt, (id % 100000 + 1000).toInt,
                ((id % 5 + 1) * 8000).toInt, if (id % 4 == 1) 1 else 2)
          (id, bytes)
        }
      graft.multimodal.BinaryFeatures.probe(media).toDF()
    }),

    // ---------- multimodal: decode → nearest-neighbor resize → re-decode ----------
    "q59_image_resize" -> ((s, d) => {
      import s.implicits._
      System.setProperty("java.awt.headless", "true")
      val media = s.read.parquet(t(d, "documents")).select(col("doc_id")).as[Long]
        .map { id =>
          val png = graft.multimodal.BinaryFeatures.syntheticPng(
            (id % 31 + 1).toInt, (id % 17 + 1).toInt, (id % 251).toInt)
          (id, graft.multimodal.BinaryFeatures.resizeNearest(
            png, (id % 7 + 1).toInt, (id % 5 + 1).toInt))
        }
      graft.multimodal.BinaryFeatures.extract(media).toDF()
        .select("doc_id", "kind", "width", "height", "n_frames", "mean_byte")
    }))

  // ----------------------------------------------------------------
  // oracle-SQL helpers for the materialized KG (Materialize.Root)
  // ----------------------------------------------------------------

  private def mat(name: String) = s"read_parquet('${Materialize.Root}/$name/*.parquet')"

  /** DuckDB mirror of the sink-side re-parse (Exports.reparsed): rebuild
    * each custom-TTL line from the materialized triples, then split it the
    * way `_parse_custom_rdf_triples` does. Exposes CTEs `base(docId, line)`
    * and `parsed(docId, line, subject, predicate, object)`.
    */
  private val reparseCte: String =
    s"""WITH base AS (
       |  SELECT docId,
       |    subj || ' ' || frame || ':' || pred || ' ' ||
       |      (CASE WHEN starts_with(obj, '"') AND ends_with(obj, '"')
       |            THEN str_split(obj, '"')[2] ELSE obj END) AS line
       |  FROM ${mat("triples")}),
       |parts0 AS (
       |  SELECT docId, line,
       |    regexp_split_to_array(trim(regexp_replace(trim(line), '[;.]$$', '')), '\\s+') AS parts
       |  FROM base
       |  WHERE trim(line) <> '' AND NOT starts_with(trim(line), '@')
       |    AND NOT starts_with(trim(line), '#')),
       |parsed AS (
       |  SELECT docId, line,
       |    regexp_replace(parts[1], '^["'']+|["'']+$$', '', 'g') AS subject,
       |    regexp_replace(parts[2], '^["'']+|["'']+$$', '', 'g') AS predicate,
       |    regexp_replace(array_to_string(parts[3:], ' '), '^["'']+|["'']+$$', '', 'g') AS object
       |  FROM parts0 WHERE len(parts) >= 3)""".stripMargin

  /** batch_pipeline.py:997-1006 in DuckDB terms. */
  private def cleanNodeSql(x: String): String =
    s"""(CASE WHEN starts_with(regexp_replace($x, '^["'']+|["'']+$$', '', 'g'), 'http://')
       |       OR starts_with(regexp_replace($x, '^["'']+|["'']+$$', '', 'g'), 'https://')
       |  THEN regexp_replace($x, '^["'']+|["'']+$$', '', 'g')
       |  ELSE regexp_replace(regexp_replace($x, '^["'']+|["'']+$$', '', 'g'), '[<>{}\\[\\]()]', '', 'g') END)""".stripMargin

  private def containsAnySql(cols: Seq[String], kws: Seq[String]): String =
    kws.flatMap(k => cols.map(c => s"contains($c, '$k')")).mkString("(", " OR ", ")")

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `_clean_node_name_for_dot` (batch_pipeline.py:1008-1024) in DuckDB
    * terms — mirrors Exports.dotNodeName.
    */
  private def dotNodeSql(x: String): String = {
    val n = s"regexp_replace(regexp_replace($x, '^[\"'']+|[\"'']+$$', '', 'g'), '[<>{}\\[\\]()]', '', 'g')"
    s"""(CASE WHEN starts_with($n, 'http://en.wikipedia.org/wiki/')
       |  THEN replace(str_split($n, '/')[-1], '_', ' ')
       |  WHEN starts_with($n, 'http://') THEN str_split($n, '/')[-1]
       |  WHEN length($n) > 30 THEN substr($n, 1, 27) || '...'
       |  ELSE $n END)""".stripMargin
  }

  // ---------- 64-bit wrapping hash arithmetic in DuckDB ----------
  // The native simhash64/fingerprint64 Expressions are pure deterministic
  // functions, so they CAN be value-level oracled: HUGEINT (INT128)
  // carries the unsigned-64 state; multiplies by ~2^64 constants are
  // split into 32-bit halves so the 128-bit product never overflows; the
  // final value maps back to signed BIGINT. Intermediates are bound as
  // lambda variables via staged list_transform passes (no macro blow-up).

  private val M64 = "18446744073709551616::HUGEINT"
  private val M32 = "4294967296::HUGEINT"

  /** `xor(z, z >>> shift) * c` in wrapping unsigned-64 arithmetic. */
  private def mulModAfterXorShift(z: String, shift: Int, c: BigInt): String = {
    val d = c >> 32
    val e = c & 0xffffffffL
    val y = s"xor($z, $z // ${1L << shift}::HUGEINT)"
    val a = s"($y // $M32)"
    val b = s"($y % $M32)"
    s"(((($a * ${e}::HUGEINT + $b * ${d}::HUGEINT) % $M32) * $M32 + $b * ${e}::HUGEINT) % $M64)"
  }

  private def toSigned64(uh: String): String =
    s"(CASE WHEN $uh >= 9223372036854775808::HUGEINT THEN $uh - $M64 ELSE $uh END)::BIGINT"

  /** Java `String.hashCode` (32-bit wrapping), sign-extended to the
    * unsigned-64 representation of its `toLong` value.
    */
  private val javaHashU64: String = {
    val h32 = "list_reduce(list_prepend(0::HUGEINT, list_transform(string_split(t, ''), " +
      "c -> unicode(c)::HUGEINT)), (h, c) -> (31::HUGEINT*h + c) % " + M32 + ")"
    s"(CASE WHEN $h32 >= 2147483648::HUGEINT THEN $h32 + $M64 - $M32 ELSE $h32 END)"
  }

  private val simhashOracleSql: String = {
    val pows = (0 until 64).map(i => s"${BigInt(1) << i}::HUGEINT").mkString("[", ",", "]")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(lower(text), '\\S+'), t -> $javaHashU64) AS h0
       |  FROM documents),
       |t1 AS (SELECT doc_id,
       |  list_transform(h0, z -> (z + 11400714819323198485::HUGEINT) % $M64) AS h1 FROM t0),
       |t2 AS (SELECT doc_id,
       |  list_transform(h1, z -> ${mulModAfterXorShift("z", 30, BigInt("bf58476d1ce4e5b9", 16))}) AS h2 FROM t1),
       |t3 AS (SELECT doc_id,
       |  list_transform(h2, z -> ${mulModAfterXorShift("z", 27, BigInt("94d049bb133111eb", 16))}) AS h3 FROM t2),
       |t4 AS (SELECT doc_id,
       |  list_transform(h3, z -> xor(z, z // 2147483648::HUGEINT)) AS hs FROM t3),
       |s AS (
       |  SELECT doc_id,
       |    list_sum(list_transform($pows, p ->
       |      CASE WHEN 2*len(list_filter(hs, h -> (h // p) % 2 = 1)) > len(hs)
       |           THEN p ELSE 0::HUGEINT END))::HUGEINT AS uh
       |  FROM t4)
       |SELECT doc_id, ${toSigned64("uh")} AS simhash FROM s""".stripMargin
  }

  /** Full value-level mirror of `MinHashLsh.bands`: text → lowercased
    * whitespace tokens → word-trigram shingles (single whole-string
    * shingle under 3 tokens) → FNV-1a over UTF-16 code units →
    * splitmix64 finalize → per-lane hash mix64(sh ⊕ mix64(lane)) with
    * the 64 mix64(lane) constants precomputed here → SIGNED min per
    * (doc, lane) via the +2^63 bias (Scala's `<` on Long is signed) →
    * band hash h = ((((seed·31+s₀)·31+s₁)·31+s₂)·31+s₃) mod 2^64,
    * which expands to the LINEAR form seed·31⁴ + Σ sᵢ·31^(3-i) and is
    * therefore a plain SQL sum aggregation. Set-based throughout
    * (≈ |shingles|·64 rows), no per-row lambda chains.
    *
    * BMP contract (shared with the simhash64/fingerprint64 mirrors):
    * the SQL side hashes shingle characters as CODE POINTS
    * (`unicode(c)`) while the Scala FNV folds UTF-16 code units — they
    * agree exactly on the Basic Multilingual Plane and would diverge on
    * astral characters (surrogate pairs), which the documents fixtures
    * do not contain. Same corpus contract every text oracle here
    * states.
    */
  private val minhashBandsOracleSql: String = {
    def mix64(z0: BigInt): BigInt = {
      val M = BigInt(1) << 64
      var z = (z0 + BigInt("9e3779b97f4a7c15", 16)).mod(M)
      z = ((z ^ (z >> 30)) * BigInt("bf58476d1ce4e5b9", 16)).mod(M)
      z = ((z ^ (z >> 27)) * BigInt("94d049bb133111eb", 16)).mod(M)
      z ^ (z >> 31)
    }
    val lanes = (0 until 64)
      .map(i => s"($i, ${mix64(BigInt(i))}::HUGEINT)").mkString(", ")
    val bias = "9223372036854775808::HUGEINT"
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |      ELSE list_transform(range(1, len(tk) - 1),
       |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS g
       |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
       |          FROM documents))),
       |fn AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
       |      list_transform(string_split(g, ''), c -> unicode(c)::HUGEINT)),
       |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % $M64) AS f
       |  FROM sh),
       |h1 AS (SELECT doc_id, (f + 11400714819323198485::HUGEINT) % $M64 AS z FROM fn),
       |h2 AS (SELECT doc_id, ${mulModAfterXorShift("z", 30, BigInt("bf58476d1ce4e5b9", 16))} AS z FROM h1),
       |h3 AS (SELECT doc_id, ${mulModAfterXorShift("z", 27, BigInt("94d049bb133111eb", 16))} AS z FROM h2),
       |hs AS (SELECT doc_id, xor(z, z // 2147483648::HUGEINT) AS sh64 FROM h3),
       |ln AS (SELECT * FROM (VALUES $lanes) AS t(lane, lc)),
       |lz1 AS (SELECT doc_id, lane,
       |  (xor(sh64, lc) + 11400714819323198485::HUGEINT) % $M64 AS z FROM hs, ln),
       |lz2 AS (SELECT doc_id, lane, ${mulModAfterXorShift("z", 30, BigInt("bf58476d1ce4e5b9", 16))} AS z FROM lz1),
       |lz3 AS (SELECT doc_id, lane, ${mulModAfterXorShift("z", 27, BigInt("94d049bb133111eb", 16))} AS z FROM lz2),
       |lz AS (SELECT doc_id, lane, xor(z, z // 2147483648::HUGEINT) AS z FROM lz3),
       |sig AS (
       |  SELECT doc_id, lane, (min((z + $bias) % $M64) + $bias) % $M64 AS su
       |  FROM lz GROUP BY 1, 2),
       |bh AS (
       |  SELECT doc_id, CAST(lane // 4 AS INT) AS band,
       |    (1125899906842597::HUGEINT * 923521::HUGEINT
       |      + sum((su * (CASE lane % 4 WHEN 0 THEN 29791 WHEN 1 THEN 961
       |          WHEN 2 THEN 31 ELSE 1 END)::HUGEINT) % $M64)::HUGEINT)
       |      % $M64 AS bu
       |  FROM sig GROUP BY 1, 2)
       |SELECT doc_id, band, ${toSigned64("bu")} AS band_hash FROM bh""".stripMargin
  }

  private val fingerprintOracleSql: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    array_to_string(regexp_extract_all(lower(text), '\\S+'), ' ') AS norm
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(1469598103934665603::HUGEINT,
       |      list_transform(string_split(norm, ''), c -> unicode(c)::HUGEINT)),
       |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % $M64) AS uh
       |  FROM n)
       |SELECT doc_id, ${toSigned64("uh")} AS fingerprint FROM f""".stripMargin

  /** The J3 enrichment (q55's oracle) as a reusable CTE exposing
    * `enr(docId, subject, predicate, object, confidence, source_sentence,
    * extractable)`.
    */
  private val enrichedCte: String =
    s"""$reparseCte,
       |pl AS (SELECT docId, subject, predicate, object,
       |  lower(trim(regexp_replace(trim(line), '[;.]$$', ''))) AS lc
       |  FROM parsed),
       |enr AS (
       |SELECT p.docId, p.subject, p.predicate, p.object,
       |  coalesce((SELECT e.confidence FROM ${mat("evals")} e
       |    WHERE e.docId = p.docId AND trim(lower(e.eval_triple)) <> ''
       |      AND (contains(p.lc, trim(lower(e.eval_triple)))
       |        OR contains(trim(lower(e.eval_triple)), p.lc))
       |    ORDER BY e.idx LIMIT 1), 0.9) AS confidence,
       |  coalesce((SELECT e.source_sentence FROM ${mat("evals")} e
       |    WHERE e.docId = p.docId AND trim(lower(e.eval_triple)) <> ''
       |      AND (contains(p.lc, trim(lower(e.eval_triple)))
       |        OR contains(trim(lower(e.eval_triple)), p.lc))
       |    ORDER BY e.idx LIMIT 1), 'Unknown') AS source_sentence,
       |  coalesce((SELECT e.extractable FROM ${mat("evals")} e
       |    WHERE e.docId = p.docId ORDER BY e.idx LIMIT 1), true) AS extractable
       |FROM pl p)""".stripMargin

  /** q50's oracle as a reusable body (q69 composes it as a CTE). */
  private val qualityOracleBody: String = """WITH s AS (
        |  SELECT doc_id, length(text) AS n,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, n, len(toks) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_len,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','of','in','on','at','to','and','or','is','are','was',
        |       'were','be','for','with','as','by','it','that','this','from','but',
        |       'not','he','she','they','his','her','its'], lower(x)))) AS DOUBLE)
        |      / len(toks) AS stop_r,
        |    CAST(n_punct AS DOUBLE) / n AS punct_r,
        |    CAST(n_digit AS DOUBLE) / n AS digit_r
        |  FROM s)
        |SELECT doc_id,
        |  CAST(n_tokens AS INT) AS n_tokens,
        |  floor(mean_len*1000 + 0.5)/1000 AS mean_token_len,
        |  floor(stop_r*1000 + 0.5)/1000 AS stopword_ratio,
        |  floor(punct_r*1000 + 0.5)/1000 AS punct_ratio,
        |  floor(digit_r*1000 + 0.5)/1000 AS digit_ratio,
        |  floor(0.25*(least(1.0, n_tokens/50.0)
        |    + (1.0 - least(1.0, abs(stop_r - 0.4)/0.4))
        |    + greatest(0.0, 1.0 - 4*punct_r - 4*digit_r)
        |    + (1.0 - least(1.0, abs(mean_len - 5.0)/5.0)))*1000 + 0.5)/1000 AS composite
        |FROM raw""".stripMargin

  /** q75's oracle as a reusable body (q76 composes it as a CTE). */
  private val repetitionOracleBody: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM documents),
      |uw AS (SELECT doc_id, unnest(ws) AS word FROM w),
      |wf AS (SELECT doc_id, max(c) AS maxw, sum(c) AS nw FROM (
      |  SELECT doc_id, word, count(*) AS c FROM uw GROUP BY 1, 2) GROUP BY 1),
      |ug AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |  i -> ws[i] || ' ' || ws[i+1])) AS gram FROM w),
      |gf AS (SELECT doc_id, max(c) AS maxg, sum(c) AS ng FROM (
      |  SELECT doc_id, gram, count(*) AS c FROM ug GROUP BY 1, 2) GROUP BY 1),
      |tgl AS (SELECT doc_id,
      |  CASE WHEN len(ws) < 10 THEN [] ELSE list_transform(
      |    range(1, len(ws) - 8),
      |    i -> array_to_string(list_slice(ws, i, i + 9), ' ')) END AS tg
      |  FROM w),
      |tf AS (SELECT doc_id,
      |  floor((1 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg))
      |    * 10000 + 0.5) / 10000 AS dup10
      |  FROM tgl WHERE len(tg) > 0)
      |SELECT w.doc_id,
      |  CAST(len(w.ws) AS INT) AS n_words,
      |  floor(coalesce(CAST(wf.maxw AS DOUBLE) / wf.nw, 0) * 10000 + 0.5) / 10000
      |    AS top_word_frac,
      |  floor(coalesce(CAST(gf.maxg AS DOUBLE) / gf.ng, 0) * 10000 + 0.5) / 10000
      |    AS top_bigram_frac,
      |  floor((1 - CAST(len(list_distinct(w.ls)) AS DOUBLE) / len(w.ls))
      |    * 10000 + 0.5) / 10000 AS dup_line_frac,
      |  coalesce(tf.dup10, 0.0) AS dup_10gram_frac
      |FROM w
      |LEFT JOIN wf ON w.doc_id = wf.doc_id
      |LEFT JOIN gf ON gf.doc_id = w.doc_id
      |LEFT JOIN tf ON tf.doc_id = w.doc_id""".stripMargin

  /** q77's oracle as a reusable body (q78 composes it as a CTE): the
    * benchmark rule (first 40 tokens of every 17th doc) re-derived in
    * SQL, string 13-grams on both sides — value-level `n_hits` per doc
    * (the Spark side counts distinct HASHED grams; they agree unless a
    * 64-bit FNV collision lands inside one doc's overlap set, the same
    * negligible-collision stance as the whole MinHash family).
    */
  private val decontamOracleBody: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
      |  FROM documents),
      |bg AS (SELECT DISTINCT g FROM (
      |  SELECT unnest(list_transform(range(1, len(btk) - 11),
      |    i -> array_to_string(list_slice(btk, i, i + 12), ' '))) AS g
      |  FROM (SELECT list_slice(tk, 1, 40) AS btk FROM tk
      |        WHERE doc_id % 17 = 0)
      |  WHERE len(btk) >= 13)),
      |dg AS (SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 11),
      |    i -> array_to_string(list_slice(tk, i, i + 12), ' '))) AS g
      |  FROM tk WHERE len(tk) >= 13)),
      |hits AS (
      |  SELECT doc_id, count(*) AS nh FROM dg JOIN bg USING (g)
      |  GROUP BY 1)
      |SELECT t.doc_id, CAST(coalesce(h.nh, 0) AS INT) AS n_hits,
      |  coalesce(h.nh, 0) > 0 AS contaminated
      |FROM tk t LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** q27's oracle as a reusable body (q69 composes it as a CTE). */
  private val langIdOracleBody: String = {
      val profs = Map(
        "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "that", "was",
          "for", "it", "with", "as", "his", "her", "on", "at", "by", "an", "be",
          "this", "which", "or", "from", "but", "not", "are", "were", "he", "she"),
        "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
          "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine",
          "als", "auch", "es", "an", "werden", "aus", "er", "hat", "dass", "sie"),
        "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "du",
          "dans", "est", "pour", "qui", "que", "sur", "se", "pas", "plus", "par",
          "avec", "son", "au", "il", "elle", "ne", "ce", "mais", "ou", "sont"),
        "es" -> Seq("el", "la", "los", "las", "de", "y", "en", "un", "una", "del",
          "que", "es", "por", "con", "para", "su", "se", "no", "como", "más",
          "pero", "sus", "le", "fue", "al", "lo", "son", "entre", "está", "también"))
      def hits(lang: String) =
        s"len(list_filter(toks, t -> list_contains([${profs(lang).map(w => s"'$w'").mkString(",")}], t))) AS $lang"
      s"""WITH s AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |sc AS (SELECT doc_id, len(toks) AS n,
         |  ${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")}
         |  FROM s)
         |SELECT doc_id,
         |  CASE WHEN n = 0 OR greatest(en, de, fr, es) = 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  CASE WHEN n = 0 THEN 0.0
         |       ELSE floor(CAST(greatest(en, de, fr, es) AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |       END AS score
         |FROM sc""".stripMargin
      }

  /** The full-cascade mirror (q76's oracle), shared VERBATIM by the
    * streaming cascade (q84) — the batch-equivalence contract IS the
    * oracle.
    */
  private lazy val curateFullOracleSql: String =
    s"""WITH li AS ($langIdOracleBody),
       |ql AS ($qualityOracleBody),
       |rp AS ($repetitionOracleBody),
       |sc AS (
       |  SELECT d.doc_id, li.lang_pred, ql.composite,
       |    rp.top_bigram_frac, rp.dup_line_frac, md5(d.text) AS h
       |  FROM documents d JOIN li USING (doc_id) JOIN ql USING (doc_id)
       |    JOIN rp USING (doc_id)),
       |k AS (
       |  SELECT h, min(doc_id) AS keeper FROM sc
       |  WHERE lang_pred = 'en' AND composite >= 0.3
       |    AND top_bigram_frac <= 0.08 AND dup_line_frac <= 0.3
       |  GROUP BY h)
       |SELECT sc.doc_id, sc.lang_pred, sc.composite,
       |  sc.top_bigram_frac, sc.dup_line_frac,
       |  CASE WHEN sc.lang_pred <> 'en' THEN 'lang'
       |       WHEN sc.composite < 0.3 THEN 'quality'
       |       WHEN sc.top_bigram_frac > 0.08 OR sc.dup_line_frac > 0.3
       |         THEN 'repetition'
       |       WHEN sc.doc_id <> k.keeper THEN 'duplicate'
       |       ELSE 'kept' END AS verdict,
       |  (sc.lang_pred = 'en' AND sc.composite >= 0.3
       |    AND sc.top_bigram_frac <= 0.08 AND sc.dup_line_frac <= 0.3
       |    AND sc.doc_id = k.keeper) AS kept
       |FROM sc LEFT JOIN k USING (h)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(avg(l_discount), 4) AS avg_disc, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q09_stats" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(avg(o_totalprice), 2) AS avg_price,
        | round(stddev_samp(o_totalprice), 2) AS sd_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q10_histogram" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "q12_conditional" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CASE WHEN value >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | round(avg(value), 3) AS avg_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_partkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 30""".stripMargin,
    "q03_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 1) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q04_join3" ->
      """SELECT c_mktsegment, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q11_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)""".stripMargin,
    "q05_window_running" ->
      """SELECT l_orderkey, l_linenumber,
        | sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
    "q06_window_rank" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn = 1""".stripMargin,
    "q07_topk" ->
      """SELECT l_partkey, sum(l_quantity) AS qty FROM lineitem
        |GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT 30""".stripMargin,
    "q08_setops" ->
      "SELECT o_custkey AS k FROM orders UNION SELECT c_custkey AS k FROM customer",
    "q47_except" ->
      """SELECT DISTINCT o_custkey AS k FROM orders
        |EXCEPT
        |SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 200000""".stripMargin,
    "q48_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q13_strings" ->
      """SELECT doc_id, length(text) AS text_len,
        | upper(substr(text, 1, 10)) AS head10,
        | regexp_replace(source, 'src', 'source_') AS src_norm
        |FROM documents""".stripMargin,
    "q14_dates" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | count(*) AS n, round(sum(o_totalprice), 1) AS rev
        |FROM orders GROUP BY 1""".stripMargin,
    "q15_categorize" ->
      """SELECT doc_id,
        | CASE WHEN text LIKE '%join%' THEN 'join_related'
        |      WHEN text LIKE '%agg%' THEN 'agg_related'
        |      WHEN text LIKE '%scan%' THEN 'scan_related'
        |      ELSE 'other' END AS category
        |FROM documents""".stripMargin,
    "q16_doc_len" ->
      "SELECT doc_id, length(text) AS text_len, n_chars FROM documents",
    "q21_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // value-level mirrors of the native hash Expressions (wrapping 64-bit
    // arithmetic reconstructed in DuckDB HUGEINT; see simhashOracleSql)
    "q24_simhash" -> simhashOracleSql,
    // exact hamming pairs over the simhash mirror: unsigned chunk keys by
    // HUGEINT division, candidates from chunk equality, popcount verify
    "q71_simhash_pairs" ->
      s"""WITH sh AS ($simhashOracleSql),
         |u AS (
         |  SELECT doc_id, simhash,
         |    (CASE WHEN simhash < 0 THEN simhash::HUGEINT + $M64
         |          ELSE simhash::HUGEINT END) AS uh
         |  FROM sh),
         |c AS (
         |  SELECT doc_id, simhash,
         |    uh % 65536 AS c0,
         |    (uh // 65536::HUGEINT) % 65536 AS c1,
         |    (uh // 4294967296::HUGEINT) % 65536 AS c2,
         |    (uh // 281474976710656::HUGEINT) % 65536 AS c3
         |  FROM u)
         |SELECT a, b, hamming FROM (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |  FROM c x JOIN c y ON x.doc_id < y.doc_id
         |    AND (x.c0 = y.c0 OR x.c1 = y.c1 OR x.c2 = y.c2 OR x.c3 = y.c3))
         |WHERE hamming <= 3""".stripMargin,
    // FULL value-level cluster oracle: exact hamming pairs over the
    // simhash mirror, then min-label connected components via recursive
    // CTE (the q32 pattern) — every (doc, cluster) assignment checked
    "q72_simhash_clusters" ->
      s"""WITH RECURSIVE sh AS ($simhashOracleSql),
         |e AS (
         |  SELECT x.doc_id AS src, y.doc_id AS dst
         |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |reach(node, m) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT b.dst, r.m FROM reach r JOIN bidir b ON b.src = r.node)
         |SELECT node AS doc_id, min(m) AS cluster FROM reach GROUP BY node""".stripMargin,
    "q28_fingerprint" -> fingerprintOracleSql,
    // winnowing mirror: FNV per k-char window, MIN taken over the SIGNED
    // values (the Scala loop compares Longs), short texts fall back to
    // the whole-string rolling hash
    "q67_winnow_fingerprint" -> {
      val winFnv = s"""list_reduce(list_prepend(1469598103934665603::HUGEINT,
        | list_transform(string_split(substr(norm, i, 8), ''), c -> unicode(c)::HUGEINT)),
        | (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % $M64)""".stripMargin
      s"""WITH n AS (
         |  SELECT doc_id,
         |    array_to_string(regexp_extract_all(lower(text), '\\S+'), ' ') AS norm
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, norm,
         |    list_reduce(list_prepend(1469598103934665603::HUGEINT,
         |      list_transform(string_split(norm, ''), c -> unicode(c)::HUGEINT)),
         |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % $M64) AS uh_full
         |  FROM n)
         |SELECT doc_id,
         |  CASE WHEN length(norm) <= 8 THEN ${toSigned64("uh_full")}
         |  ELSE list_min(list_transform(range(1, length(norm) - 8 + 2), i ->
         |    ${toSigned64(s"($winFnv)")}))
         |  END AS winnow
         |FROM r""".stripMargin
    },
    // FULL value-level mirror (round 5, replacing the old structural +
    // stability fixture oracle): shingle FNV-1a + splitmix64 in HUGEINT,
    // per-lane SIGNED minima via the +2^63 bias trick (Scala compares
    // signature values as signed longs), and the band 31-chain expanded
    // to its linear form seed·31⁴ + Σ sigᵢ·31^(3-i) mod 2^64
    "q23_minhash_lsh" -> minhashBandsOracleSql,
    "q22_dedup_norm" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h,
        | count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,
    // partial oracle over the materialized fixture: result equals the
    // fixture iff (a) EVERY emitted pair's jaccard matches the exact
    // 3-gram-shingle score recomputed in SQL (the scorer is
    // deterministic: lowercased whitespace tokens → sliding word
    // trigrams → set jaccard; a mis-scored or structurally invalid row
    // is dropped and fails the row/hash gate) and (b) the SQL-derivable
    // exact-clone subset (identical md5 → jaccard 1.0) is ALL present —
    // a missing clone pair surfaces as an extra union row. Only recall
    // of non-clone pairs stays approximate by contract (Spark-side
    // planted-dup specs gate it).
    "q49_near_dup_pairs" ->
      s"""WITH p AS (
         |  SELECT a, b, jaccard
         |  FROM read_parquet('${oracleFixtureDir("graft_q49_pairs")}/*.parquet')),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |    ELSE list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS sg
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
         |        FROM documents)),
         |h AS (SELECT doc_id, md5(text) AS h FROM documents),
         |cp AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM h x JOIN h y ON x.h = y.h AND x.doc_id < y.doc_id)
         |SELECT p.a, p.b, p.jaccard
         |FROM p
         |JOIN sh sa ON p.a = sa.doc_id
         |JOIN sh sb ON p.b = sb.doc_id
         |WHERE p.a < p.b AND p.jaccard >= 0.5
         |  AND p.jaccard = round(
         |    CAST(len(list_intersect(list_distinct(sa.sg), list_distinct(sb.sg))) AS DOUBLE)
         |      / len(list_distinct(sa.sg || sb.sg)), 4)
         |UNION
         |SELECT a, b, CAST(1.0 AS DOUBLE) AS jaccard FROM cp""".stripMargin,
    // ANN partial oracles: candidate recall is the approximation (which
    // neighbors got FOUND — Spark recall specs gate it), but every
    // emitted row is deterministic: sim must equal the exact dot
    // product recomputed in SQL, rk must equal the rank re-derived over
    // the emitted set (also catches duplicate rows), k ≤ 5, qid ≠ nid.
    "q42_ann_lsh" -> annTopkOracleSql("graft_q42_topk"),
    "q52_ann_ivf" -> annTopkOracleSql("graft_q52_topk"),
    // cosine near-dup pairs: every emitted pair exact-checked (a < b,
    // above tau, sim = exact dot); DISTINCT catches duplicate rows
    "q61_cosine_dup_lsh" ->
      s"""SELECT DISTINCT p.a, p.b, p.sim
         |FROM read_parquet('${oracleFixtureDir("graft_q61_pairs")}/*.parquet') p
         |JOIN embeddings ea ON p.a = ea.vec_id
         |JOIN embeddings eb ON p.b = eb.vec_id
         |WHERE p.a < p.b AND p.sim >= 0.35
         |  AND p.sim = ${dotMirror("ea", "eb")}""".stripMargin,
    // streaming dedup partial oracle over the production sink's written
    // table: one verdict per flagged doc, dup_of strictly earlier (event
    // time is monotone in doc_id for this corpus), est in [threshold, 1],
    // both ids real; any doc with an earlier md5-clone WITHIN THE SAFE
    // HORIZON must have been flagged (union sentinel — staging assigns
    // 1 event-second per doc_id, so the 1-hour watermark = 3600 ids).
    // The safe horizon is NOT the full watermark: eviction uses the
    // watermark derived from the PREVIOUS micro-batch, so a clone just
    // inside 3600 can legitimately be evicted at a batch boundary. The
    // staging coalesce(4) bounds a micro-batch's event span by
    // ceil(n/4) seconds, so the horizon backs off by exactly that
    // margin — derived from the corpus itself, which makes the sentinel
    // correctly vacuous (never spuriously failing) on corpora whose
    // batch span exceeds the watermark. Clones beyond the horizon may
    // legitimately be evicted, the documented state-bound trade-off.
    // Which near-dups get discovered stays approximate by contract
    // (StreamingDedupSpec gates it).
    "q70_stream_dedup" ->
      s"""WITH p AS (
         |  SELECT doc_id, dup_of, est
         |  FROM read_parquet('${oracleFixtureDir("graft_q70_out")}/*/*.parquet')),
         |cl AS (
         |  SELECT DISTINCT y.doc_id
         |  FROM (SELECT doc_id, md5(text) AS h FROM documents) x
         |  JOIN (SELECT doc_id, md5(text) AS h FROM documents) y
         |    ON x.h = y.h AND x.doc_id < y.doc_id
         |       AND y.doc_id - x.doc_id <=
         |         (SELECT 3600 - CAST(ceil(count(*) / 4.0) AS BIGINT)
         |          FROM documents))
         |SELECT doc_id, dup_of, est FROM (
         |  SELECT p.doc_id, p.dup_of, p.est,
         |    count(*) OVER (PARTITION BY p.doc_id) AS nb
         |  FROM p
         |  JOIN documents da ON p.doc_id = da.doc_id
         |  JOIN documents db ON p.dup_of = db.doc_id
         |  WHERE p.dup_of < p.doc_id AND p.est >= 0.8 AND p.est <= 1.0)
         |WHERE nb = 1
         |UNION
         |SELECT doc_id, CAST(-1 AS BIGINT) AS dup_of,
         |  CAST(1.0 AS DOUBLE) AS est
         |FROM cl WHERE doc_id NOT IN (SELECT doc_id FROM p)""".stripMargin,
    // partial oracle: fixture rows pass four invariants (doc exists,
    // cluster <= doc_id, representative closure — the cluster id's own
    // row maps to itself — and exact clones share their md5-keeper's
    // cluster); completeness is forced by unioning a sentinel row for
    // any document MISSING from the fixture
    "q65_near_dup_clusters" ->
      s"""WITH p AS (
         |  SELECT doc_id, cluster
         |  FROM read_parquet('${oracleFixtureDir("graft_q65_clusters")}/*.parquet')),
         |grp AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM documents)
         |SELECT x.doc_id, x.cluster FROM p x
         |JOIN documents dd ON x.doc_id = dd.doc_id
         |JOIN p q ON x.cluster = q.doc_id AND q.cluster = x.cluster
         |JOIN grp g ON x.doc_id = g.doc_id
         |JOIN p k ON g.keeper = k.doc_id AND k.cluster = x.cluster
         |WHERE x.cluster <= x.doc_id
         |UNION
         |SELECT doc_id, CAST(-1 AS BIGINT) AS cluster FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM p)""".stripMargin,
    "q51_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS INT)
        |   AS n_pieces
        |FROM documents""".stripMargin,
    "q25_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents""".stripMargin,
    "q26_quality" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | round(CAST(length(text) - len(regexp_split_to_array(trim(text), '\s+')) + 1 AS DOUBLE)
        |   / len(regexp_split_to_array(trim(text), '\s+')), 3) AS avg_token_len
        |FROM documents""".stripMargin,
    "q29_embed_norm" ->
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
        |FROM embeddings""".stripMargin,
    // repetition-signal mirror: same tokenization as the q49 shingle
    // oracle, top-frequency via unnest+group, the explicit
    // floor(x*1e4+0.5)/1e4 rounding form on both sides
    "q75_repetition" -> repetitionOracleBody,
    // the q27 + q50 + q75 + q21 mirrors composed — the full curation
    // cascade, every stage individually value-level oracled
    "q76_curation_full" -> curateFullOracleSql,
    // streaming curation == batch curateFull on a replayed corpus whose
    // event time is monotone in doc_id and whose span sits inside the
    // watermark (sf0.01 spans 500 s << 1 h, so nothing can be evicted):
    // the STREAM gets the batch cascade's FULL value-level oracle
    // verbatim — a stronger gate than the q70 partial pattern
    "q84_stream_curate" -> curateFullOracleSql,
    // recall oracles: ground truth re-derived exactly in SQL, found set
    // from the fixture, recall_ok literal TRUE (hard gate; see the q79
    // query comment for gate calibration)
    "q79_ann_lsh_recall" -> topkRecallOracleSql("graft_q79_found"),
    // int8 ANN partial oracle: emitted sims re-derived from the
    // quantized mirror (see annI8TopkOracleSql)
    "q83_ann_int8" -> annI8TopkOracleSql("graft_q83_topk"),
    "q80_ann_ivf_recall" -> topkRecallOracleSql("graft_q80_found"),
    "q81_near_dup_recall" ->
      s"""WITH f AS (
         |  SELECT a, b
         |  FROM read_parquet('${oracleFixtureDir("graft_q81_found")}/*.parquet')),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |    ELSE list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sg
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
         |        FROM documents WHERE doc_id < 500)),
         |tr AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM sh x, sh y
         |  WHERE x.doc_id < y.doc_id
         |    AND CAST(len(list_intersect(x.sg, y.sg)) AS DOUBLE)
         |      / len(list_distinct(x.sg || y.sg)) >= 0.5),
         |m AS (SELECT
         |  (SELECT count(*) FROM tr) AS n_true,
         |  (SELECT count(*) FROM f) AS n_found,
         |  (SELECT count(*) FROM f JOIN tr USING (a, b)) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_found AS BIGINT) AS n_found,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_true = 0 THEN 1.0
         |    ELSE floor(CAST(n_hit AS DOUBLE) / n_true * 10000 + 0.5) / 10000
         |    END AS recall,
         |  TRUE AS recall_ok
         |FROM m""".stripMargin,
    "q82_cosine_dup_recall" ->
      s"""WITH f AS (
         |  SELECT a, b
         |  FROM read_parquet('${oracleFixtureDir("graft_q82_found")}/*.parquet')),
         |tr AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b
         |  FROM embeddings x, embeddings y
         |  WHERE x.vec_id < y.vec_id AND x.vec_id < 500 AND y.vec_id < 500
         |    AND ${dotMirror("x", "y")} >= 0.35),
         |m AS (SELECT
         |  (SELECT count(*) FROM tr) AS n_true,
         |  (SELECT count(*) FROM f) AS n_found,
         |  (SELECT count(*) FROM f JOIN tr USING (a, b)) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_found AS BIGINT) AS n_found,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_true = 0 THEN 1.0
         |    ELSE floor(CAST(n_hit AS DOUBLE) / n_true * 10000 + 0.5) / 10000
         |    END AS recall,
         |  TRUE AS recall_ok
         |FROM m""".stripMargin,
    // URL-canonicalization mirror: the IDENTICAL regex (UrlNorm
    // exposes the Java/RE2-shared string) + the same six contractual
    // steps run in SQL over the same planted urls
    "q90_url_canon" -> {
      val re = graft.canon.UrlNorm.UrlReStr
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    'HTTP://ExAmple-' || CAST(doc_id % 5 AS VARCHAR)
         |      || '.CoM:80/Path/' || CAST(doc_id AS VARCHAR)
         |      || '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR)
         |      || '&a=1#sec' AS url
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, url,
         |    regexp_matches(url, '$re') AS ok,
         |    lower(regexp_extract(url, '$re', 1)) AS scheme,
         |    lower(regexp_extract(url, '$re', 2)) AS host,
         |    regexp_extract(url, '$re', 3) AS port,
         |    regexp_extract(url, '$re', 4) AS path,
         |    regexp_extract(url, '$re', 5) AS query
         |  FROM t0),
         |n AS (
         |  SELECT doc_id, url, ok, scheme, host,
         |    CASE WHEN (scheme = 'http' AND port = ':80')
         |           OR (scheme = 'https' AND port = ':443') THEN ''
         |         ELSE port END AS port2,
         |    CASE WHEN path = '' THEN '/' ELSE path END AS path2,
         |    list_sort(list_filter(
         |      string_split(CASE WHEN query = '' THEN ''
         |        ELSE substr(query, 2) END, '&'),
         |      x -> x <> '' AND NOT starts_with(lower(x), 'utm_'))) AS ps
         |  FROM p)
         |SELECT doc_id, url,
         |  CASE WHEN NOT ok THEN url
         |    ELSE scheme || '://' || host || port2 || path2 ||
         |      (CASE WHEN len(ps) = 0 THEN ''
         |            ELSE '?' || array_to_string(ps, '&') END)
         |    END AS canon
         |FROM n""".stripMargin
    },
    // end-to-end pipeline mirror: the q76 keeper logic, the q86
    // sampling decode, and the q85 cumsum composed as one CTE chain —
    // the stage hand-offs (which docs survive into packing) are the
    // thing this gate adds over the per-stage oracles
    "q89_train_pipeline" ->
      s"""WITH li AS ($langIdOracleBody),
         |ql AS ($qualityOracleBody),
         |rp AS ($repetitionOracleBody),
         |sc AS (
         |  SELECT d.doc_id, li.lang_pred, ql.composite,
         |    rp.top_bigram_frac, rp.dup_line_frac, md5(d.text) AS h
         |  FROM documents d JOIN li USING (doc_id) JOIN ql USING (doc_id)
         |    JOIN rp USING (doc_id)),
         |k AS (
         |  SELECT h, min(doc_id) AS keeper FROM sc
         |  WHERE lang_pred = 'en' AND composite >= 0.3
         |    AND top_bigram_frac <= 0.08 AND dup_line_frac <= 0.3
         |  GROUP BY h)
         |, kept AS (
         |  SELECT sc.doc_id FROM sc LEFT JOIN k USING (h)
         |  WHERE sc.lang_pred = 'en' AND sc.composite >= 0.3
         |    AND sc.top_bigram_frac <= 0.08 AND sc.dup_line_frac <= 0.3
         |    AND sc.doc_id = k.keeper),
         |mx AS (
         |  SELECT d.doc_id,
         |    CASE d.doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
         |      ELSE 'code' END AS stratum,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(substr(md5(d.text), 1, 8), ''),
         |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
         |      (h, c) -> h * 16 + c) AS v
         |  FROM documents d JOIN kept USING (doc_id)),
         |samp AS (
         |  SELECT doc_id FROM mx
         |  WHERE v / 4294967296.0 < (CASE stratum WHEN 'web' THEN 0.5
         |    WHEN 'books' THEN 0.9 ELSE 0.1 END)),
         |c AS (
         |  SELECT d.doc_id,
         |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n
         |  FROM documents d JOIN samp USING (doc_id)),
         |r AS (
         |  SELECT doc_id, n,
         |    coalesce(sum(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
         |  FROM c)
         |SELECT doc_id, n AS n_tokens,
         |  CAST(s AS BIGINT) AS tok_start,
         |  CAST(CASE WHEN n = 0 THEN -1 ELSE s // 512 END AS BIGINT)
         |    AS first_chunk,
         |  CAST(CASE WHEN n = 0 THEN -1 ELSE (s + n - 1) // 512 END AS BIGINT)
         |    AS last_chunk
         |FROM r""".stripMargin,
    // control-strip + NFC mirror: same planting, the identical RE2
    // class then nfc_normalize — strip-FIRST order contractual
    // (Normalize.scala: idempotence)
    "q87_nfc_normalize" -> {
      val cr = graft.text.Normalize.ControlRe
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
         |      || chr(7) || CAST(doc_id % 7 AS VARCHAR) AS t
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, t,
         |    nfc_normalize(regexp_replace(t, '$cr', '', 'g')) AS clean
         |  FROM t0)
         |SELECT doc_id, clean <> t AS changed, md5(clean) AS clean_md5
         |FROM n""".stripMargin
    },
    // line-dedup mirror: explode lines with ordinality, hot keys =
    // trimmed non-empty lines in >=2 distinct docs, rebuild the cleaned
    // text with ordered string_agg; the trim key uses the RE2
    // equivalent of Java String.trim (codepoints <= U+0020)
    "q88_line_dedup" ->
      """WITH t0 AS (
        |  SELECT doc_id, text || chr(10) || 'SHARED FOOTER COOKIE BANNER'
        |    || chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, i, ls[i] AS ln,
        |    regexp_replace(ls[i], '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g')
        |      AS key
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM t0),
        |    UNNEST(range(1, len(ls) + 1)) AS u(i)),
        |hot AS (
        |  SELECT key FROM (SELECT DISTINCT doc_id, key FROM l WHERE key <> '')
        |  GROUP BY key HAVING count(*) >= 2),
        |k AS (SELECT doc_id, i, ln FROM l
        |      WHERE key NOT IN (SELECT key FROM hot)),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(ln, chr(10) ORDER BY i) AS clean FROM k GROUP BY doc_id),
        |la AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT la.doc_id, CAST(la.n_lines AS BIGINT) AS n_lines,
        |  CAST(la.n_lines - coalesce(ka.n_kept, 0) AS BIGINT) AS n_dropped,
        |  md5(coalesce(ka.clean, '')) AS clean_md5
        |FROM la LEFT JOIN ka USING (doc_id)""".stripMargin,
    // sequence-packing mirror: the scalable two-pass running sum must
    // equal the straightforward SQL window cumsum, value-level per doc
    "q85_seq_pack" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n,
        |    coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |  FROM c)
        |SELECT doc_id, n AS n_tokens,
        |  CAST(s AS BIGINT) AS tok_start,
        |  CAST(CASE WHEN n = 0 THEN -1 ELSE s // 512 END AS BIGINT)
        |    AS first_chunk,
        |  CAST(CASE WHEN n = 0 THEN -1 ELSE (s + n - 1) // 512 END AS BIGINT)
        |    AS last_chunk
        |FROM r""".stripMargin,
    // mix-sampling mirror: md5-prefix uniform re-derived digit-by-digit
    // (strpos hex decode), exact double compare on both sides
    "q86_mix_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
        |      ELSE 'code' END AS stratum,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(md5(text), 1, 8), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |      (h, c) -> h * 16 + c) AS v
        |  FROM documents)
        |SELECT doc_id, stratum, v / 4294967296.0 AS u,
        |  v / 4294967296.0 < (CASE stratum WHEN 'web' THEN 0.5
        |    WHEN 'books' THEN 0.9 ELSE 0.1 END) AS kept
        |FROM s""".stripMargin,
    // benchmark-decontamination mirror: FULL value-level (n_hits per
    // doc from raw string 13-grams; see decontamOracleBody)
    "q77_decontaminate" -> decontamOracleBody,
    // cascade + decontamination: every stage's mirror composed — the
    // q76 composition plus the contamination CTE and its verdict slot
    "q78_curation_decontam" ->
      s"""WITH li AS ($langIdOracleBody),
         |ql AS ($qualityOracleBody),
         |rp AS ($repetitionOracleBody),
         |ct AS ($decontamOracleBody),
         |sc AS (
         |  SELECT d.doc_id, li.lang_pred, ql.composite,
         |    rp.top_bigram_frac, rp.dup_line_frac, ct.n_hits,
         |    md5(d.text) AS h
         |  FROM documents d JOIN li USING (doc_id) JOIN ql USING (doc_id)
         |    JOIN rp USING (doc_id) JOIN ct USING (doc_id)),
         |k AS (
         |  SELECT h, min(doc_id) AS keeper FROM sc
         |  WHERE lang_pred = 'en' AND composite >= 0.3
         |    AND top_bigram_frac <= 0.08 AND dup_line_frac <= 0.3
         |    AND n_hits = 0
         |  GROUP BY h)
         |SELECT sc.doc_id, sc.lang_pred, sc.composite,
         |  sc.top_bigram_frac, sc.dup_line_frac, sc.n_hits,
         |  CASE WHEN sc.lang_pred <> 'en' THEN 'lang'
         |       WHEN sc.composite < 0.3 THEN 'quality'
         |       WHEN sc.top_bigram_frac > 0.08 OR sc.dup_line_frac > 0.3
         |         THEN 'repetition'
         |       WHEN sc.n_hits > 0 THEN 'contaminated'
         |       WHEN sc.doc_id <> k.keeper THEN 'duplicate'
         |       ELSE 'kept' END AS verdict,
         |  (sc.lang_pred = 'en' AND sc.composite >= 0.3
         |    AND sc.top_bigram_frac <= 0.08 AND sc.dup_line_frac <= 0.3
         |    AND sc.n_hits = 0 AND sc.doc_id = k.keeper) AS kept
         |FROM sc LEFT JOIN k USING (h)""".stripMargin,
    // PII-redaction mirror: the IDENTICAL RE2-compatible patterns run
    // in DuckDB in the same order, counting on the text as it existed
    // when each pattern ran (Redact.scala documents the contract)
    "q74_pii_redact" -> {
      val e = graft.text.Redact.EmailRe
      val ip = graft.text.Redact.Ipv4Re
      val ph = graft.text.Redact.PhoneRe
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com at 192.168.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' or +1 (555) 010-' || CAST(doc_id % 10000 AS VARCHAR)
         |      || '.' AS t
         |  FROM documents),
         |r1 AS (SELECT doc_id,
         |  len(regexp_extract_all(t, '$e')) AS n_emails,
         |  regexp_replace(t, '$e', '<EMAIL>', 'g') AS t1 FROM t0),
         |r2 AS (SELECT doc_id, n_emails,
         |  len(regexp_extract_all(t1, '$ip')) AS n_ips,
         |  regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM r1),
         |r3 AS (SELECT doc_id, n_emails, n_ips,
         |  len(regexp_extract_all(t2, '$ph')) AS n_phones,
         |  regexp_replace(t2, '$ph', '<PHONE>', 'g') AS t3 FROM r2)
         |SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
         |  CAST(n_ips AS INT) AS n_ips, CAST(n_phones AS INT) AS n_phones,
         |  md5(t3) AS clean_md5
         |FROM r3""".stripMargin
    },
    // exact value-level mirror of the int8 quantizer: identical double
    // arithmetic (float widens exactly; max is order-independent;
    // floor-half-up matches), codes digested identically
    "q73_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
        |      AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  md5(array_to_string(list_transform(embedding,
        |    x -> CAST(CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE floor(CAST(x AS DOUBLE) / scale + 0.5) END AS BIGINT) AS VARCHAR)),
        |    ',')) AS codes_md5
        |FROM q""".stripMargin,
    "q30_cosine_knn" ->
      """SELECT qid, nid, sim, rk FROM (
        | SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 5) AS sim,
        |  row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 5) DESC,
        |      b.vec_id) AS rk
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id)
        |WHERE rk <= 5""".stripMargin,
    "q31_stream_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        | round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q32_connected_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem WHERE l_orderkey < 300),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach(node, m) AS (
        |  SELECT src, src FROM bidir
        |  UNION
        |  SELECT b.dst, r.m FROM reach r JOIN bidir b ON b.src = r.node)
        |SELECT node, min(m) AS component FROM reach GROUP BY node""".stripMargin,
    "q33_degree_topk" ->
      """WITH e AS (
        |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem WHERE l_orderkey < 300)
        |SELECT node, count(*) AS degree FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |GROUP BY node ORDER BY degree DESC, node LIMIT 30""".stripMargin,
    "q34_typed_literals" ->
      """SELECT doc_id, CAST(n_chars AS VARCHAR) AS v,
        | CASE WHEN regexp_full_match(CAST(n_chars AS VARCHAR), '\d{4}') THEN 'gYear'
        |      WHEN regexp_full_match(CAST(n_chars AS VARCHAR), '\d{4}-\d{2}-\d{2}') THEN 'date'
        |      WHEN regexp_full_match(CAST(n_chars AS VARCHAR), '\d+') THEN 'integer'
        |      WHEN regexp_full_match(CAST(n_chars AS VARCHAR), '\d+\.\d+') THEN 'decimal'
        |      WHEN lower(CAST(n_chars AS VARCHAR)) IN ('true','false') THEN 'boolean'
        |      ELSE 'string' END AS xsd_type
        |FROM documents""".stripMargin,
    "q35_source_metrics" ->
      """SELECT source, count(*) AS n,
        | round(avg(n_chars), 3) AS avg_chars,
        | round(stddev_samp(n_chars), 3) AS sd_chars,
        | CAST(sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_high,
        | CAST(sum(CASE WHEN n_chars >= 200 AND n_chars < 400 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_mid,
        | CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_low
        |FROM documents GROUP BY source""".stripMargin,
    "q36_salted_count" ->
      "SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey",
    // the PNG fixtures are pure functions of doc_id, so the REAL imageio
    // decode is checkable: dimensions and mean gray level by arithmetic
    "q41_multimodal" ->
      """SELECT doc_id, 'image' AS kind,
        | CAST(doc_id % 31 + 1 AS INT) AS width,
        | CAST(doc_id % 17 + 1 AS INT) AS height,
        | CAST(1 AS INT) AS n_frames,
        | CAST(doc_id % 251 AS DOUBLE) AS mean_byte
        |FROM documents""".stripMargin,

    // ---------- materialized-KG oracles ----------
    "q17_kg_triples" ->
      s"""SELECT docId, subj, frame, pred, obj, subjIsUri, objIsUri
         |FROM ${mat("triples")}""".stripMargin,
    "q18_kg_entities" ->
      s"""SELECT docId, mention, entity, uri, "start", "end", confidence
         |FROM ${mat("entities")}""".stripMargin,
    "q19_kg_frames" ->
      s"SELECT url, sent_idx, frame, n_elements FROM ${mat("frames")}",
    // the JSON-lines adapter must reproduce the parquet-sourced KG exactly
    "q63_jsonl_source" ->
      s"""SELECT docId, subj, frame, pred, obj, subjIsUri, objIsUri
         |FROM ${mat("triples")}""".stripMargin,
    "q20_kg_ttl" ->
      s"""$reparseCte
         |SELECT line AS ttl_line FROM base""".stripMargin,
    "q37_edges_export" ->
      s"""$reparseCte,
         |lab AS (
         |  SELECT docId, subject, object,
         |    str_split(predicate, ':') AS sp,
         |    replace(replace(str_split(predicate, ':')[-1], '_', ' '), '#', '') AS lbl0
         |  FROM parsed)
         |SELECT
         |  ${cleanNodeSql("subject")} AS "Source",
         |  ${cleanNodeSql("object")} AS "Target",
         |  CASE WHEN length(lbl0) > 20 THEN substr(lbl0, 1, 17) || '...'
         |       ELSE lbl0 END AS "Label",
         |  sp[1] AS "Frame"
         |FROM lab""".stripMargin,
    "q38_predicate_histogram" ->
      s"""$reparseCte
         |SELECT predicate, count(*) AS n FROM parsed GROUP BY predicate""".stripMargin,
    "q39_canonicalized" ->
      s"""WITH RECURSIVE
         |vt AS (
         |  SELECT docId,
         |    CASE WHEN substr(md5(docId || '|' || subj), 1, 1) IN ('0','1','2','3')
         |           AND subjIsUri AND starts_with(subj, 'http://')
         |         THEN 'https://' || substr(subj, 8) ELSE subj END AS subj,
         |    frame, pred, obj
         |  FROM ${mat("triples")}),
         |mu AS (
         |  SELECT mention, uri FROM ${mat("entities")}
         |  UNION ALL
         |  SELECT mention, 'https://' || substr(uri, 8) AS uri FROM ${mat("entities")}
         |  WHERE substr(md5(docId || '|' || uri), 1, 1) IN ('0','1','2','3')
         |    AND starts_with(uri, 'http://')),
         |men AS (
         |  SELECT DISTINCT lower(mention) AS m, uri FROM mu
         |  WHERE starts_with(uri, 'http')
         |    AND lower(mention) NOT IN (SELECT surface FROM ${mat("ambiguous")})),
         |hubs AS (SELECT m, min(uri) AS hub FROM men GROUP BY m),
         |e AS (SELECT DISTINCT men.uri AS src, hubs.hub AS dst
         |      FROM men JOIN hubs USING (m) WHERE men.uri <> hubs.hub),
         |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |reach(node, lab) AS (
         |  SELECT src, src FROM bidir
         |  UNION
         |  SELECT b.dst, r.lab FROM reach r JOIN bidir b ON b.src = r.node),
         |cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
         |SELECT DISTINCT t.docId,
         |  coalesce(cs.component, t.subj) AS subj,
         |  t.frame, t.pred,
         |  coalesce(co.component, t.obj) AS obj
         |FROM vt t
         |LEFT JOIN cc cs ON cs.node = t.subj
         |LEFT JOIN cc co ON co.node = t.obj""".stripMargin,
    "q40_rag_json" ->
      s"""$reparseCte
         |SELECT docId, count(*) AS total_triples,
         |  md5(string_agg(subject || '|' || predicate || '|' || object, chr(10)
         |    ORDER BY subject || '|' || predicate || '|' || object)) AS triples_digest
         |FROM parsed GROUP BY docId""".stripMargin,
    // floor(x*1e4+0.5)/1e4 == Spark round(x,4) (HALF_UP) for positive x
    "q43_eval_metrics" ->
      s"""SELECT docId, count(*) AS total_triples,
         | floor(avg(CASE WHEN extractable THEN 1.0 ELSE 0.0 END)*10000 + 0.5)/10000 AS extraction_rate,
         | floor(avg(CASE WHEN extractable THEN confidence END)*10000 + 0.5)/10000 AS mean_confidence,
         | floor(stddev_samp(CASE WHEN extractable THEN confidence END)*10000 + 0.5)/10000 AS sd_confidence,
         | CAST(sum(CASE WHEN confidence >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_high,
         | CAST(sum(CASE WHEN confidence >= 0.5 AND confidence < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_mid,
         | CAST(sum(CASE WHEN confidence < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_low
         |FROM ${mat("enriched")} GROUP BY docId""".stripMargin,
    "q44_eval_rollup" ->
      s"""WITH pd AS (
         |  SELECT docId, count(*) AS total_triples,
         |    floor(avg(CASE WHEN extractable THEN 1.0 ELSE 0.0 END)*10000 + 0.5)/10000 AS extraction_rate
         |  FROM ${mat("enriched")} GROUP BY docId)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(total_triples) AS BIGINT) AS total_triples,
         |  floor(avg(extraction_rate)*10000 + 0.5)/10000 AS mean_extraction_rate,
         |  floor(stddev_samp(extraction_rate)*10000 + 0.5)/10000 AS sd_extraction_rate,
         |  (SELECT docId FROM pd ORDER BY extraction_rate DESC, docId DESC LIMIT 1) AS best_doc,
         |  (SELECT docId FROM pd ORDER BY extraction_rate ASC, docId ASC LIMIT 1) AS worst_doc
         |FROM pd""".stripMargin,
    "q45_stream_triples" ->
      s"""SELECT warc_ts, docId, subj, subjIsUri, frame, role, pred, obj, objIsUri
         |FROM ${mat("stream_expected")}""".stripMargin,
    "q46_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts, true AS approx_ok
        |FROM lineitem""".stripMargin,
    // SQL-standard percentile_disc spelled out explicitly (smallest value
    // whose cumulative distribution >= p, i.e. the element at row
    // ceil(p*n)) so no engine-specific quantile convention is assumed
    "q68_quantiles" ->
      """WITH s AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT
        |  max(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN v END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50*n) AS BIGINT) THEN v END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN v END) AS p75,
        |  max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN v END) AS p95,
        |  true AS ok25, true AS ok50, true AS ok75, true AS ok95
        |FROM s""".stripMargin,
    "q50_quality_score" -> qualityOracleBody,
    // the q27 + q50 + q21 mirrors composed — same filters/keeper rule
    "q69_curation" ->
      s"""WITH li AS ($langIdOracleBody),
         |ql AS ($qualityOracleBody),
         |sc AS (
         |  SELECT d.doc_id, li.lang_pred, ql.composite, md5(d.text) AS h
         |  FROM documents d JOIN li USING (doc_id) JOIN ql USING (doc_id)),
         |k AS (
         |  SELECT h, min(doc_id) AS keeper FROM sc
         |  WHERE lang_pred = 'en' AND composite >= 0.3 GROUP BY h)
         |SELECT sc.doc_id, sc.lang_pred, sc.composite,
         |  CASE WHEN sc.lang_pred <> 'en' THEN 'lang'
         |       WHEN sc.composite < 0.3 THEN 'quality'
         |       WHEN sc.doc_id <> k.keeper THEN 'duplicate'
         |       ELSE 'kept' END AS verdict,
         |  (sc.lang_pred = 'en' AND sc.composite >= 0.3
         |    AND sc.doc_id = k.keeper) AS kept
         |FROM sc LEFT JOIN k USING (h)""".stripMargin,
    "q53_truncate" ->
      """WITH t0 AS (SELECT doc_id, replace(text, 'table', 'table.') AS text FROM documents),
        |tr AS (SELECT doc_id, text, substr(text, 1, 200) AS cut, length(text) AS n FROM t0),
        |idx AS (SELECT doc_id, text, n,
        |  greatest(
        |    CASE WHEN strpos(reverse(cut), '.') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '.') END,
        |    CASE WHEN strpos(reverse(cut), '!') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '!') END,
        |    CASE WHEN strpos(reverse(cut), '?') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '?') END) AS last_end
        |  FROM tr)
        |SELECT doc_id,
        |  CASE WHEN n <= 200 THEN text
        |       WHEN last_end > 160.0 THEN substr(text, 1, last_end + 1)
        |       ELSE substr(text, 1, 197) || '...' END AS truncated
        |FROM idx""".stripMargin,
    "q54_triple_categories" ->
      s"""$reparseCte,
         |lc AS (SELECT docId, subject, predicate, object,
         |  lower(subject) AS ls, lower(predicate) AS lp, lower(object) AS lo
         |  FROM parsed)
         |SELECT docId, subject, predicate, object,
         |  CASE WHEN ${containsAnySql(Seq("ls", "lo"), Seq("christie", "agatha", "person", "author"))} THEN 'people_related'
         |       WHEN ${containsAnySql(Seq("ls", "lo"), Seq("torquay", "england", "place", "location"))} THEN 'location_related'
         |       WHEN ${containsAnySql(Seq("lp", "lo"), Seq("born", "death", "event", "happened"))} THEN 'event_related'
         |       WHEN ${containsAnySql(Seq("ls", "lo"), Seq("mystery", "novel", "book", "writing"))} THEN 'concept_related'
         |       ELSE 'other' END AS category
         |FROM lc""".stripMargin,
    // nodes cleaned with the DOT cleaner — the reference's _categorize_nodes
    // classifies _clean_node_name_for_dot output (batch_pipeline.py:946-957)
    "q57_node_classify" ->
      s"""$reparseCte,
         |nodes AS (
         |  SELECT ${dotNodeSql("subject")} AS node FROM parsed
         |  UNION
         |  SELECT ${dotNodeSql("object")} AS node FROM parsed),
         |ln AS (SELECT node, lower(node) AS n FROM nodes)
         |SELECT node,
         |  CASE WHEN ${containsAnySql(Seq("n"), Seq("christie", "agatha", "person", "author", "writer"))} THEN 'people'
         |       WHEN ${containsAnySql(Seq("n"), Seq("torquay", "england", "place", "location", "city", "country"))} THEN 'locations'
         |       WHEN ${containsAnySql(Seq("n"), Seq("born", "death", "died", "event", "happened"))} THEN 'events'
         |       WHEN ${containsAnySql(Seq("n"), Seq("mystery", "novel", "book", "work", "writing", "literature"))} THEN 'concepts'
         |       ELSE 'other' END AS category
         |FROM ln""".stripMargin,
    "q55_eval_join" ->
      s"""$enrichedCte
         |SELECT docId, subject, predicate, object, confidence,
         |  source_sentence, extractable
         |FROM enr""".stripMargin,
    "q64_dot_export" -> {
      val headerTail = graft.io.Exports.dotHeaderTail.mkString("\n")
      val colors = graft.io.Exports.DotFrameColors.map(c => s"'$c'")
        .mkString("[", ",", "]")
      s"""$enrichedCte,
         |ed0 AS (
         |  SELECT docId, subject, predicate, object, confidence, extractable,
         |    row_number() OVER (PARTITION BY docId
         |      ORDER BY subject, predicate, object, confidence) AS ord
         |  FROM enr),
         |ed AS (
         |  SELECT docId, ord, predicate, confidence, extractable,
         |    ${dotNodeSql("subject")} AS sc,
         |    ${dotNodeSql("object")} AS oc,
         |    CASE WHEN length(lbl0) > 20 THEN substr(lbl0, 1, 17) || '...'
         |         ELSE lbl0 END AS pred_clean,
         |    str_split(predicate, ':')[1] AS frame
         |  FROM (SELECT *,
         |    replace(replace(str_split(predicate, ':')[-1], '_', ' '), '#', '') AS lbl0
         |    FROM ed0)),
         |fcolor AS (
         |  SELECT docId, frame,
         |    ($colors)[CAST((row_number() OVER (PARTITION BY docId ORDER BY min(ord)) - 1)
         |      % 15 AS INT) + 1] AS fc,
         |    row_number() OVER (PARTITION BY docId ORDER BY min(ord)) AS ford
         |  FROM ed GROUP BY docId, frame),
         |edge_lines AS (
         |  SELECT e.docId,
         |    string_agg('    "' || e.sc || '" -> "' || e.oc || '" [label="' ||
         |      e.pred_clean || ' [' || e.frame || ']' ||
         |      CASE WHEN e.confidence < 0.5 THEN ' (low conf)'
         |           WHEN e.confidence < 0.8 THEN ' (med conf)' ELSE '' END ||
         |      CASE WHEN NOT e.extractable THEN ' (not extractable)' ELSE '' END ||
         |      '", ' ||
         |      CASE WHEN contains(lower(e.predicate), 'location') THEN 'color=green, penwidth=2'
         |           WHEN contains(lower(e.predicate), 'person') THEN 'color=red, penwidth=2'
         |           WHEN contains(lower(e.predicate), 'time') THEN 'color=purple, penwidth=2'
         |           WHEN contains(lower(e.predicate), 'topic') THEN 'color=blue, penwidth=2'
         |           ELSE 'color=' || f.fc || ', penwidth=1' END || '];',
         |      chr(10) ORDER BY e.ord) AS edges_txt
         |  FROM ed e JOIN fcolor f ON e.docId = f.docId AND e.frame = f.frame
         |  GROUP BY e.docId),
         |nodes AS (
         |  SELECT DISTINCT docId, node FROM (
         |    SELECT docId, sc AS node FROM ed UNION ALL SELECT docId, oc FROM ed)),
         |catn AS (SELECT docId, node,
         |  CASE WHEN ${containsAnySql(Seq("lower(node)"), Seq("christie", "agatha", "person", "author", "writer"))} THEN 'people'
         |       WHEN ${containsAnySql(Seq("lower(node)"), Seq("torquay", "england", "place", "location", "city", "country"))} THEN 'locations'
         |       WHEN ${containsAnySql(Seq("lower(node)"), Seq("born", "death", "died", "event", "happened"))} THEN 'events'
         |       WHEN ${containsAnySql(Seq("lower(node)"), Seq("mystery", "novel", "book", "work", "writing", "literature"))} THEN 'concepts'
         |       ELSE 'other' END AS cat
         |  FROM nodes),
         |cat_blocks AS (
         |  SELECT docId, cat,
         |    '    // ' || CASE cat WHEN 'people' THEN 'People'
         |        WHEN 'locations' THEN 'Locations' WHEN 'concepts' THEN 'Concepts'
         |        WHEN 'events' THEN 'Events' ELSE 'Other' END || ' nodes' || chr(10) ||
         |    string_agg('    "' || node || '" [label="' || node || '", ' ||
         |      CASE cat WHEN 'people' THEN 'fillcolor=lightcoral, color=red, shape=circle'
         |           WHEN 'locations' THEN 'fillcolor=lightgreen, color=green, shape=box'
         |           WHEN 'concepts' THEN 'fillcolor=lightblue, color=blue, shape=ellipse'
         |           WHEN 'events' THEN 'fillcolor=lightyellow, color=orange, shape=diamond'
         |           ELSE 'fillcolor=lightgray, color=gray, shape=hexagon' END || '];',
         |      chr(10) ORDER BY node) AS block
         |  FROM catn GROUP BY docId, cat),
         |node_txt AS (
         |  SELECT docId, string_agg(block || chr(10), chr(10)
         |    ORDER BY CASE cat WHEN 'people' THEN 0 WHEN 'locations' THEN 1
         |      WHEN 'concepts' THEN 2 WHEN 'events' THEN 3 ELSE 4 END) AS nodes_txt
         |  FROM cat_blocks GROUP BY docId),
         |legend AS (
         |  SELECT docId,
         |    string_agg('        "' || frame || '_legend" [label="' || frame ||
         |      '", fillcolor="' || fc || '", style=filled, shape=box, fontsize=8];',
         |      chr(10) ORDER BY ford) AS legend_txt
         |  FROM fcolor GROUP BY docId)
         |SELECT docId,
         |  'digraph ' || replace(docId, ' ', '_') || ' {' || chr(10) ||
         |  ${sqlLit(headerTail)} || chr(10) ||
         |  n.nodes_txt || chr(10) ||
         |  '    // Relationships' || chr(10) ||
         |  e.edges_txt || chr(10) || chr(10) ||
         |  '    // Frame Legend' || chr(10) ||
         |  '    subgraph cluster_legend {' || chr(10) ||
         |  '        label="Semantic Frames";' || chr(10) ||
         |  '        style=filled;' || chr(10) ||
         |  '        fillcolor=white;' || chr(10) ||
         |  '        color=black;' || chr(10) ||
         |  '        rank=sink;' || chr(10) ||
         |  l.legend_txt || chr(10) ||
         |  '    }' || chr(10) || '}' AS dot
         |FROM edge_lines e
         |JOIN node_txt n USING (docId)
         |JOIN legend l USING (docId)""".stripMargin
    },
    "q56_sparql_templates" -> {
      val full = graft.io.Exports.sparqlTemplateText("@@NAME@@")
      val rest = full.split("@@NAME@@", 2)(1)
      s"""SELECT DISTINCT docId,
         |  '# SPARQL Query Templates for ' || docId || ${sqlLit(rest)} AS sparql
         |FROM ${mat("triples")}""".stripMargin
    },
    "q58_reduction_summary" ->
      """WITH t0 AS (SELECT doc_id, replace(text, 'table', 'table.') AS text FROM documents),
        |tr AS (SELECT doc_id, text, substr(text, 1, 200) AS cut, length(text) AS n FROM t0),
        |idx AS (SELECT doc_id, n,
        |  greatest(
        |    CASE WHEN strpos(reverse(cut), '.') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '.') END,
        |    CASE WHEN strpos(reverse(cut), '!') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '!') END,
        |    CASE WHEN strpos(reverse(cut), '?') = 0 THEN -1
        |         ELSE length(cut) - strpos(reverse(cut), '?') END) AS last_end
        |  FROM tr),
        |fl AS (SELECT doc_id, n,
        |  CASE WHEN n <= 200 THEN n
        |       WHEN last_end > 160.0 THEN last_end + 1
        |       ELSE 200 END AS fin,
        |  CASE WHEN n > 200 THEN 1 ELSE 0 END AS trunc
        |  FROM idx)
        |SELECT count(*) AS total_files,
        |  CAST(sum(n) AS BIGINT) AS total_original_chars,
        |  CAST(sum(fin) AS BIGINT) AS total_final_chars,
        |  floor((1.0 - CAST(sum(fin) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) * 100 * 10 + 0.5) / 10
        |    AS total_reduction_percent,
        |  CAST(sum(trunc) AS BIGINT) AS files_truncated,
        |  CAST(count(*) - sum(trunc) AS BIGINT) AS files_kept_original
        |FROM fl""".stripMargin,
    "q66_av_probe" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS container,
        | CAST(CASE WHEN doc_id % 2 = 0
        |   THEN 44 + (doc_id % 500 + 100) * ((doc_id // 2) % 2 + 1) * 2
        |   ELSE 216 END AS INT) AS byte_len,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 8) * 1000
        |   ELSE (doc_id % 5 + 1) * 8000 END AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id // 2) % 2 + 1
        |   ELSE CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END
        |   END AS INT) AS channels,
        | CAST(16 AS INT) AS bits_per_sample,
        | CAST(CASE WHEN doc_id % 2 = 0
        |   THEN ((doc_id % 500 + 100) * 1000) // (8000 + (doc_id % 8) * 1000)
        |   ELSE ((doc_id % 100000 + 1000) * 1000) // ((doc_id % 9 + 1) * 600)
        |   END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "q59_image_resize" ->
      """SELECT doc_id, 'image' AS kind,
        | CAST(doc_id % 7 + 1 AS INT) AS width,
        | CAST(doc_id % 5 + 1 AS INT) AS height,
        | CAST(1 AS INT) AS n_frames,
        | CAST(doc_id % 251 AS DOUBLE) AS mean_byte
        |FROM documents""".stripMargin,
    "q62_sql_top_objects" ->
      s"""SELECT frame, pred, obj, n, rk FROM (
         |  SELECT frame, pred, obj, count(*) AS n,
         |    row_number() OVER (PARTITION BY frame, pred
         |      ORDER BY count(*) DESC, obj) AS rk
         |  FROM ${mat("triples")}
         |  WHERE objIsUri
         |  GROUP BY frame, pred, obj)
         |WHERE rk <= 3""".stripMargin,
    "q60_cosine_dup_exact" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a, b, sim FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    floor(list_sum(list_transform(list_zip(x.embedding, y.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * 100000 + 0.5) / 100000 AS sim
        |  FROM e x, e y WHERE x.vec_id < y.vec_id)
        |WHERE sim >= 0.35""".stripMargin,
    // profile hit-counts share the denominator, so the first-max
    // tie-break compares counts directly (en ≥ later profiles wins)
    "q27_langid" -> langIdOracleBody)
}
