package graft.queries

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types._
import mallispark.text.{Dedup, Similarity}

import Fixtures._

/** Dedup and similarity queries: exact/MinHash/SimHash/Jaccard dedup,
  * clustering, embedding near-dups and ANN top-k (brute force, LSH,
  * IVF) — plus the native-hash scale paths with their law gate. */
object DedupQueries {

  // Corpus-scaled ubiquitous-shingle cap for the Jaccard family: a FIXED
  // df cap stops meaning "ubiquitous" as the corpus grows (at web scale
  // nearly every distinct shingle exceeds df 20, and the hot set itself
  // grows with corpus content), so the cap tracks corpus size: a shingle
  // is hot only past 1% of the shingled-document count, floor 20 — the
  // `scaledShingleDf = Some((20, 100L))` argument the Jaccard builders
  // pass. The count rides the pipeline's base materialization as an
  // observe metric (no separate corpus scan); the SQL oracle computes
  // the identical value as greatest(20, (SELECT count(*) FROM toks)//100)
  // over the same length(text)>0 population.

  /** One boilerplate body, injected 10^5 times by the degenerate-corpus
    * dedup gate (shared verbatim with its DuckDB oracle literal). */
  private val DegenerateText =
    "click here to accept cookies and continue to the requested page"

  // ANN-LSH parameters shared by the Spark queries and the oracle SQL.
  // Sized for recall ≥ 0.9 on the driver's embeddings (measured 0.92-0.96
  // at sf0.001/sf0.01): the synthetic vectors are near-uniform (top-5
  // neighbor cosine ≈ 0.32), the hardest case for hyperplane LSH — real
  // web embeddings cluster, so the same machinery prunes far harder
  // there; planes should grow ≈ log2(N/bucket) with corpus size.
  private val AnnPlanes = 3
  private val AnnTables = 10
  private val AnnDims = 64

  /** Near-dup LSH uses FINER buckets than ANN top-k: a 0.98-cosine pair
    * still co-buckets in ≥1 of the 10 OR-tables with P ≈ 1-5e-5 at 6
    * planes (miss prob per plane ≈ acos(0.98)/π ≈ 0.064), while the
    * candidate-pair count drops ~8× vs planes=3 (cells shrink from
    * n/8 to n/64 per table; pair cost is Σ|cell|²). The oracle replays
    * the SAME plane count, so the gate stays exact. */
  private val NearDupPlanes = 6

  /** Hot-bucket cap shared VERBATIM by the engine call and the oracle's
    * bucket-size HAVING clause — the cap is part of the operator's
    * semantics, so the SQL must replay it at any scale (gate corpora
    * sit far below it; an adversarial cell would be dropped by BOTH
    * engines identically). */
  private val NearDupMaxBucket = 4096
  // IVF params sized for recall ≥ 0.9 on the near-uniform test vectors
  // (measured 0.94/0.96 at the two gate scales): like the LSH path, the
  // worst-case data needs a high candidate fraction (nprobe/nCentroids ≈
  // 0.8 here); clustered real embeddings probe far fewer cells, and the
  // pruning ratio improves with nCentroids at corpus scale
  private val IvfCentroids = 16
  private val IvfProbe = 13
  // seeded Lloyd iterations for the IVF coarse quantizer — unrolled
  // iteration-for-iteration in the oracle CTEs (annIvfCtes)
  private val IvfIters = 2

  private val shinglesCte =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM pages WHERE length(text) > 0),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(w)-2, 0)),
      |    i -> array_to_string(w[(i+1):(i+3)], ' ')))) AS s
      |  FROM toks)""".stripMargin

  /** Per-table LSH bucket SELECTs with the SAME literal hyperplane signs
    * the Spark plan inlines (Similarity.planeSigns) — UNION ALL of one
    * SELECT per table producing (idCol, tbl, bucket). */
  private def lshBucketSql(src: String, idCol: String, vecCol: String,
                           planes: Int = AnnPlanes): String =
    (0 until AnnTables).map { tbl =>
      val signs = Similarity.planeSigns(tbl, planes, AnnDims)
      val bits = signs.zipWithIndex.map { case (sv, p) =>
        val arr = sv.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"""(CASE WHEN round(list_sum(list_transform(list_zip($vecCol, $arr),
           |  z -> CAST(z[1] AS DOUBLE) * z[2])), 4) >= 0
           |  THEN ${1L << p} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"SELECT $idCol, $tbl AS tbl, $bits AS bucket FROM $src"
    }.mkString("\nUNION ALL\n")

  /** Cosine between two list columns, matching Similarity.cosine's
    * element-order double arithmetic. */
  private def cosSqlOf(a: String, b: String) =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  private val cosSql = cosSqlOf("embedding", "qe")

  /** One unrolled Lloyd iteration for the IVF oracle: assign to the
    * max-cosine centroid of `prev` (ties → lowest cent_id), then the
    * quantized-integer-sum mean per (cell, dim) — `sum(round(x·10⁴))` is
    * an exact BIGINT sum, so the division `CAST(s AS DOUBLE)/c/10000.0`
    * is bit-identical to Similarity.kmeansCentroids' driver-side fold.
    * Cells with no members keep the previous centroid (LEFT JOIN +
    * coalesce). */
  private def kmeansIterSql(i: Int, prev: String): String =
    s"""asg$i AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSqlOf("c.embedding", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM corpus c CROSS JOIN $prev ct) WHERE rk = 1),
       |sums$i AS (SELECT cell, dim,
       |    sum(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS s,
       |    count(*) AS c
       |  FROM (SELECT a.cell, generate_subscripts(c.embedding, 1) AS dim,
       |          unnest(c.embedding) AS x
       |        FROM corpus c JOIN asg$i a USING (vec_id))
       |  GROUP BY cell, dim),
       |cents$i AS (SELECT ct.cent_id,
       |    coalesce(mm.arr, ct.cvec) AS cvec
       |  FROM $prev ct LEFT JOIN (
       |    SELECT cell AS cent_id,
       |      list(CAST(s AS DOUBLE) / c / 10000.0 ORDER BY dim) AS arr
       |    FROM sums$i GROUP BY cell) mm USING (cent_id))""".stripMargin

  /** Shared CTE chain for the IVF-ANN oracles: seeded k-means centroids
    * (init = lowest-id vectors quantized to 1e-4, then $IvfIters unrolled
    * Lloyd iterations), corpus cell assignment, query probes, candidate
    * refinement. */
  private def annIvfCtes: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |      WHERE vec_id < 10),
       |cents0 AS (SELECT vec_id AS cent_id,
       |    list_transform(embedding, x ->
       |      CAST(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS DOUBLE)
       |        / 10000.0) AS cvec
       |  FROM corpus ORDER BY vec_id LIMIT $IvfCentroids),
       |${(1 to IvfIters).map(i => kmeansIterSql(i, s"cents${i - 1}"))
           .mkString(",\n")},
       |cents AS (SELECT cent_id, cvec FROM cents$IvfIters),
       |casg AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSqlOf("c.embedding", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
       |qasg AS (SELECT query_id, cell FROM (
       |  SELECT qq.query_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY qq.query_id
       |      ORDER BY ${cosSqlOf("qq.qe", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM q qq CROSS JOIN cents ct) WHERE rk <= $IvfProbe),
       |ivf_pairs AS (SELECT DISTINCT qasg.query_id, casg.vec_id
       |  FROM casg JOIN qasg USING (cell)),
       |ivf_scored AS (SELECT p.query_id, p.vec_id, $cosSql AS cos
       |  FROM ivf_pairs p JOIN corpus USING (vec_id) JOIN q USING (query_id)),
       |ivf_ranked AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
       |    AS rank FROM ivf_scored)""".stripMargin

  /** Shared CTE chain for the LSH-ANN oracles: corpus/queries, bucketed
    * sides, candidate pairs, scored + ranked candidates. */
  private def annLshCtes: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |      WHERE vec_id < 10),
       |cb AS (${lshBucketSql("corpus", "vec_id", "embedding")}),
       |qb AS (${lshBucketSql("q", "query_id", "qe")}),
       |pairs AS (SELECT DISTINCT qb.query_id, cb.vec_id
       |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket),
       |scored AS (SELECT p.query_id, p.vec_id,
       |  $cosSql AS cos
       |  FROM pairs p JOIN corpus USING (vec_id) JOIN q USING (query_id)),
       |lsh_ranked AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
       |    AS rank FROM scored)""".stripMargin

  /** Oracle of both clustering gates: the star contraction must produce
    * the SAME clusters as the min-label algorithm. WITH RECURSIVE
    * transitive closure (UNION set-semantics terminates); component
    * label = min reachable id, mirroring the propagation fixpoint. */
  private val clustersOracle =
    s"""${P.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$shinglesCte,
       |capped AS (SELECT sh.* FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= greatest(20, (SELECT count(*) FROM toks) // 100)) ok
       |    ON sh.s = ok.s),
       |sizes AS (SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS sz
       |          FROM capped GROUP BY 1),
       |jpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |good AS (SELECT id_a, id_b FROM jpairs
       |  JOIN sizes sa ON sa.doc = id_a JOIN sizes sb ON sb.doc = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.9),
       |edges AS (SELECT id_a AS a, id_b AS b FROM good
       |          UNION SELECT id_b, id_a FROM good),
       |walk(a, l) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) q
       |  UNION
       |  SELECT e.a, w.l FROM edges e JOIN walk w ON e.b = w.a),
       |labels AS (SELECT a AS id, min(l) AS cluster_id FROM walk GROUP BY a)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- dedup family over pages ----
    QueryDef("dedup_exact", (s, dir) =>
      Dedup.exactDupGroups(pages(s, dir), "doc_id", "text")
        .select("text_hash", "dup_cnt").orderBy("text_hash"),
      oracle = Some(s"""$P
         |SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS dup_cnt
         |FROM pages GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    // ---- degenerate-corpus gate: 10^5 injected copies of ONE
    //      boilerplate text. The group output stays BOUNDED (the
    //      maxMembers=100 smallest ids + the true dup_cnt) because the
    //      member collect is a k-capped heap (BoundedCollectMin), never
    //      a full collect_list — the one shape that would OOM an
    //      executor at 100 TB on a boilerplate-heavy crawl ----
    // bounded group shape under a 10^5-copy degenerate corpus: the kept
    // member list is exactly the 100 smallest ids (list_slice of the
    // full sorted list — the engine side never materializes that full
    // list; its aggregate state is a 100-capped heap)
    QueryDef("dedup_degenerate", (s, dir) => {
      val base = pages(s, dir).select(F.col("doc_id"), F.col("text"))
      val degen = s.range(100000).select(
        (F.col("id") + 50000000L).as("doc_id"),
        F.lit(DegenerateText).as("text"))
      Dedup.exactDupGroups(base.unionByName(degen), "doc_id", "text",
          maxMembers = 100)
        .select(F.col("text_hash"), F.col("dup_cnt"),
          F.size(F.col("doc_ids")).cast(LongType).as("kept"),
          F.try_element_at(F.col("doc_ids"), F.lit(1)).as("id_first"),
          F.try_element_at(F.col("doc_ids"), F.size(F.col("doc_ids")))
            .as("id_last_kept"))
        .orderBy("text_hash")
    }, oracle = Some(s"""$P,
         |degen AS (
         |  SELECT doc_id, text FROM pages
         |  UNION ALL
         |  SELECT 50000000 + CAST(i AS BIGINT), '$DegenerateText'
         |  FROM range(100000) t(i)),
         |grp AS (SELECT md5(text) AS text_hash,
         |    CAST(count(*) AS BIGINT) AS dup_cnt,
         |    list_slice(list_sort(list(doc_id)), 1, 100) AS ids
         |  FROM degen GROUP BY 1 HAVING count(*) > 1)
         |SELECT text_hash, dup_cnt, CAST(len(ids) AS BIGINT) AS kept,
         |  ids[1] AS id_first, ids[len(ids)] AS id_last_kept
         |FROM grp ORDER BY text_hash""".stripMargin)),

    // ---- the SQL surface for the custom kernels (SparkSessionExtensions
    //      / live registrar): `shingle_minhash` invoked through
    //      spark.sql must produce the exact md5+affine minima DuckDB
    //      re-derives — proving the registered-function path end-to-end
    //      against the oracle, not just SQL ≡ Column (ExtensionsSpec) ----
    // band_key mirrors Dedup.bandKey: the Spark sequential fold
    // ((acc*m + x%M) % M) over the 2-row slice equals the HUGEINT
    // polynomial sum Σ (mh%M)*m^(rows-1-i) mod M; packed k1*M2+k2 < 2^62
    // same md5+affine minima arithmetic as dedup_minhash_lsh's mins
    // CTE, pivoted to one row per doc (k = 4 seeds)
    QueryDef("sql_kernel_minhash", (s, dir) => {
      mallispark.expressions.MallisparkExtensions.register(s)
      pages(s, dir).select("doc_id", "text")
        .where(F.length(F.col("text")) > 0)
        .createOrReplaceTempView("sqlk_pages")
      s.sql(
          "SELECT doc_id, shingle_minhash(text, 3, 4) AS sig FROM sqlk_pages")
        .where(F.try_element_at(F.col("sig"), F.lit(1)) =!= Long.MaxValue)
        .select(F.col("doc_id"),
          F.try_element_at(F.col("sig"), F.lit(1)).as("mh0"),
          F.try_element_at(F.col("sig"), F.lit(2)).as("mh1"),
          F.try_element_at(F.col("sig"), F.lit(3)).as("mh2"),
          F.try_element_at(F.col("sig"), F.lit(4)).as("mh3"))
        .orderBy("doc_id")
    }, oracle = Some(s"""$P,
         |$shinglesCte,
         |hs AS (SELECT doc_id, ${dh32("s")} AS h FROM sh),
         |mins AS (
         |  SELECT doc_id, seed,
         |    min((h * (2 * seed + 1) + 99991 * seed)
         |        % ${Dedup.MinhashP}) AS mh
         |  FROM hs CROSS JOIN (SELECT unnest(range(4)) AS seed) seeds
         |  GROUP BY doc_id, seed)
         |SELECT doc_id,
         |  max(CASE WHEN seed = 0 THEN mh END) AS mh0,
         |  max(CASE WHEN seed = 1 THEN mh END) AS mh1,
         |  max(CASE WHEN seed = 2 THEN mh END) AS mh2,
         |  max(CASE WHEN seed = 3 THEN mh END) AS mh3
         |FROM mins GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLSH(pages(s, dir).where(F.length(F.col("text")) > 0),
          "doc_id", "text", k = 8, bands = 4, n = 3)
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key"),
      oracle = Some(s"""$P,
         |$shinglesCte,
         |hs AS (SELECT doc_id, ${dh32("s")} AS h FROM sh),
         |mins AS (
         |  SELECT doc_id, seed,
         |    min((h * (2 * seed + 1) + 99991 * seed)
         |        % ${Dedup.MinhashP}) AS mh
         |  FROM hs CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
         |  GROUP BY doc_id, seed),
         |sigs AS (
         |  SELECT doc_id, seed // 2 AS band,
         |    CAST(sum(CAST(mh % ${Dedup.BandM1} AS HUGEINT)
         |          * CAST(round(pow(${Dedup.BandMult1}, 1 - seed % 2)) AS HUGEINT))
         |        % ${Dedup.BandM1} AS BIGINT) * ${Dedup.BandM2}
         |    + CAST(sum(CAST(mh % ${Dedup.BandM2} AS HUGEINT)
         |          * CAST(round(pow(${Dedup.BandMult2}, 1 - seed % 2)) AS HUGEINT))
         |        % ${Dedup.BandM2} AS BIGINT) AS band_key
         |  FROM mins GROUP BY doc_id, seed // 2)
         |SELECT band, band_key, CAST(count(*) AS BIGINT) AS dup_cnt
         |FROM sigs GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2""".stripMargin)),

    QueryDef("dedup_simhash", (s, dir) =>
      Dedup.simhashCandidates(
          pages(s, dir).where(F.length(F.col("text")) > 0), "doc_id", "text")
        .select("half", "half_key", "dup_cnt")
        .orderBy("half", "half_key"),
      oracle = Some(s"""$P,
         |toks AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS t
         |  FROM pages WHERE length(text) > 0),
         |bits AS (SELECT doc_id, b.bit,
         |   sum(CASE WHEN CAST(floor(${dh32("'hi:' || t")} / pow(2, b.bit)) AS BIGINT) % 2 = 1
         |            THEN 1 ELSE -1 END) AS v_hi,
         |   sum(CASE WHEN CAST(floor(${dh32("'lo:' || t")} / pow(2, b.bit)) AS BIGINT) % 2 = 1
         |            THEN 1 ELSE -1 END) AS v_lo
         |  FROM toks CROSS JOIN (SELECT unnest(range(32)) AS bit) b GROUP BY 1, 2),
         |packed AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v_hi > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS hi,
         |    CAST(sum(CASE WHEN v_lo > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY 1),
         |cands AS (
         |  SELECT 'hi' AS half, hi AS half_key, CAST(count(*) AS BIGINT) AS dup_cnt
         |    FROM packed GROUP BY 2 HAVING count(*) > 1
         |  UNION ALL
         |  SELECT 'lo', lo, CAST(count(*) AS BIGINT) FROM packed
         |    GROUP BY 2 HAVING count(*) > 1)
         |SELECT half, half_key, dup_cnt FROM cands ORDER BY half, half_key""".stripMargin)),

    // scale-sane exact Jaccard: quadratic pair expansion gated to NATIVE
    // MinHash LSH buckets + ubiquitous-shingle frequency cap; the output
    // keeps only exactly-verified pairs, so the oracle is the capped full
    // self-join (LSH miss probability for a 0.9-pair: (1-.9²)^8 ≈ 2e-8).
    // The hot-bucket cap (maxBucket=4096) is likewise a miss-probability
    // term rather than an oracle clause — native xxhash bands aren't SQL-
    // replayable — and cannot fire at gate scale: the largest possible
    // bucket is the biggest exact-dup text group (≪ 4096 at any sf;
    // TextOpsSpec covers cap behavior directly)
    QueryDef("dedup_jaccard", (s, dir) => {
      val p = pages(s, dir)
      Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
          n = 3, threshold = 0.9, k = 16, bands = 8,
          scaledShingleDf = Some((20, 100L)))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b")
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""$P,
         |$shinglesCte,
         |capped AS (SELECT sh.* FROM sh
         |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= greatest(20, (SELECT count(*) FROM toks) // 100)) ok
         |    ON sh.s = ok.s),
         |sizes AS (SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS sz
         |          FROM capped GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
         |FROM pairs JOIN sizes sa ON sa.doc = id_a JOIN sizes sb ON sb.doc = id_b
         |WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin)),

    // near-dup components over the verified jaccard pairs: min-label
    // propagation to a fixpoint; oracle = DuckDB recursive transitive
    // closure over the identical pair set
    QueryDef("dedup_clusters", (s, dir) => {
      val p = pages(s, dir)
      Dedup.dupClusters(
          Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
            n = 3, threshold = 0.9, k = 16, bands = 8,
            scaledShingleDf = Some((20, 100L))),
          "id_a", "id_b")
        .orderBy("cluster_id")
    }, oracle = Some(clustersOracle)),

    // same pairs through the O(log d) large-star/small-star contraction —
    // must agree with the min-label fixpoint exactly
    QueryDef("dedup_clusters_star", (s, dir) => {
      val p = pages(s, dir)
      Dedup.dupClustersStar(
          Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
            n = 3, threshold = 0.9, k = 16, bands = 8,
            scaledShingleDf = Some((20, 100L))),
          "id_a", "id_b")
        .orderBy("cluster_id")
    }, oracle = Some(clustersOracle)),

    // ---- similarity search over embeddings ----
    QueryDef("ann_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some("""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |      WHERE vec_id < 10),
        |scored AS (SELECT query_id, vec_id,
        |  list_sum(list_transform(list_zip(embedding, qe),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(qe,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM corpus, q),
        |ranked AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
        |    AS rank FROM scored)
        |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // LSH-bucketed ANN — scale path, EXACTLY mirrored in DuckDB (literal
    // hyperplane signs shared by both engines). Params are AnnPlanes=3
    // (2^3 = 8 buckets/table) × AnnTables=10 OR-tables — sized by the
    // recall gate (ann_lsh_recall ≥ 0.9 on the near-uniform worst-case
    // test vectors), not by corpus size; at 10^12 vectors raise
    // planes ≈ log2(N/bucket_size) and keep tables for recall
    QueryDef("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.annTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5, planes = AnnPlanes,
          tables = AnnTables, dims = AnnDims)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some(s"""$annLshCtes
         |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         |FROM lsh_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- embedding-cosine near-dup dedup (the fifth dedup family the
    //      pipeline spec names): LSH-bucketed candidate pairs + exact
    //      cosine refine. Synthetic near-dups injected deterministically
    //      (exact copy at +10000, first-element-perturbed copy at
    //      +20000 for vec_id % 50 == 7); oracle replicates the
    //      hyperplane buckets from the shared literal signs ----
    QueryDef("dedup_embedding", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val seeds = emb.where(F.col("vec_id") % 50 === 7)
      val dup = seeds.select((F.col("vec_id") + 10000L).as("vec_id"),
        F.col("embedding"))
      // perturb element 0 in DOUBLE then narrow to float — IEEE-identical
      // to the oracle's CAST(CAST(e[1] AS DOUBLE) + 0.05 AS REAL)
      val near = seeds.select((F.col("vec_id") + 20000L).as("vec_id"),
        F.concat(
          F.array((F.element_at(F.col("embedding"), 1).cast(DoubleType)
            + 0.05).cast(FloatType)),
          F.slice(F.col("embedding"), 2, 1 << 20)).as("embedding"))
      // gate-scale corpus is tiny — checkpoint it so the 5 downstream
      // references (bucket sizes, both self-join sides, both vector
      // re-joins) don't each re-scan parquet + recompute the union
      // (at production scale the corpus arrives materialized anyway)
      val corpus = emb.unionByName(dup).unionByName(near)
        .localCheckpoint(true)
      Similarity.nearDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.98, planes = NearDupPlanes, tables = AnnTables,
          dims = AnnDims, maxBucket = NearDupMaxBucket)
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |seeds AS (SELECT vec_id, embedding FROM base WHERE vec_id % 50 = 7),
         |dup AS (SELECT vec_id + 10000 AS vec_id, embedding FROM seeds),
         |near AS (SELECT vec_id + 20000 AS vec_id,
         |  list_prepend(CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS REAL),
         |    embedding[2:]) AS embedding FROM seeds),
         |corpus2 AS (SELECT * FROM base UNION ALL SELECT * FROM dup
         |            UNION ALL SELECT * FROM near),
         |b2 AS (${lshBucketSql("corpus2", "vec_id", "embedding",
             NearDupPlanes)}),
         |ok AS (SELECT tbl, bucket FROM b2 GROUP BY 1, 2
         |       HAVING count(*) <= $NearDupMaxBucket),
         |b3 AS (SELECT b2.* FROM b2 JOIN ok USING (tbl, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM b3 a JOIN b3 b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (SELECT id_a, id_b,
         |    round(${cosSqlOf("va.embedding", "vb.embedding")}, 4) AS cos
         |  FROM cand JOIN corpus2 va ON va.vec_id = id_a
         |            JOIN corpus2 vb ON vb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.98
         |ORDER BY id_a, id_b""".stripMargin)),

    // IVF (inverted-file) ANN — the second scale path the pipeline spec
    // names: coarse-quantizer cells + nprobe probing; deterministic
    // centroids make it exactly DuckDB-mirrorable
    QueryDef("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5, nCentroids = IvfCentroids,
          nprobe = IvfProbe, trainIters = IvfIters,
          centroidCacheKey = Some(dir))
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some(s"""$annIvfCtes
         |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         |FROM ivf_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("ann_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5).select("query_id", "vec_id")
      val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5, nCentroids = IvfCentroids,
        nprobe = IvfProbe, trainIters = IvfIters,
        centroidCacheKey = Some(dir)).select("query_id", "vec_id")
      val hits = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("hits"))
      val total = exact.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total).select(F.col("hits"), F.col("total"),
        F.floor(F.col("hits") * 100L / F.col("total")).as("recall_pct"))
    }, oracle = Some(s"""$annIvfCtes,
         |ex_scored AS (SELECT query_id, vec_id, $cosSql AS cos
         |  FROM corpus, q),
         |ex_ranked AS (SELECT query_id, vec_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |    AS rank FROM ex_scored),
         |ex AS (SELECT query_id, vec_id FROM ex_ranked WHERE rank <= 5),
         |iv AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 5)
         |SELECT CAST(count(*) FILTER (WHERE iv.vec_id IS NOT NULL) AS BIGINT) AS hits,
         |  CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(*) FILTER (WHERE iv.vec_id IS NOT NULL) * 100
         |       // count(*) AS BIGINT) AS recall_pct
         |FROM ex LEFT JOIN iv
         |  ON ex.query_id = iv.query_id AND ex.vec_id = iv.vec_id""".stripMargin)),

    // recall@k of the LSH path vs the exact brute-force top-k — the
    // quality gate the scale path must hold (recall ≥ 0.9)
    QueryDef("ann_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5).select("query_id", "vec_id")
      val lsh = Similarity.annTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5, planes = AnnPlanes,
        tables = AnnTables, dims = AnnDims).select("query_id", "vec_id")
      val hits = exact.join(lsh, Seq("query_id", "vec_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("hits"))
      val total = exact.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total).select(F.col("hits"), F.col("total"),
        F.floor(F.col("hits") * 100L / F.col("total")).as("recall_pct"))
    }, oracle = Some(s"""$annLshCtes,
         |ex_scored AS (SELECT query_id, vec_id, $cosSql AS cos
         |  FROM corpus, q),
         |ex_ranked AS (SELECT query_id, vec_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |    AS rank FROM ex_scored),
         |ex AS (SELECT query_id, vec_id FROM ex_ranked WHERE rank <= 5),
         |ls AS (SELECT query_id, vec_id FROM lsh_ranked WHERE rank <= 5)
         |SELECT CAST(count(*) FILTER (WHERE ls.vec_id IS NOT NULL) AS BIGINT) AS hits,
         |  CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(*) FILTER (WHERE ls.vec_id IS NOT NULL) * 100
         |       // count(*) AS BIGINT) AS recall_pct
         |FROM ex LEFT JOIN ls
         |  ON ex.query_id = ls.query_id AND ex.vec_id = ls.vec_id""".stripMargin)),

    // native (engine-hash) kernels: byte-identical duplicate texts MUST
    // produce identical native MinHash signatures and SimHash values —
    // the dup-pair list is cross-checked via md5, the signature equality
    // is the engine-proved law
    QueryDef("native_hash_law", (s, dir) => {
      import mallispark.expressions.{MinHashFromText, SimHashFromText}
      // the self-join on md5(text) keeps ONLY duplicate-text pairs — so
      // compute the expensive 64-seed MinHash/SimHash kernels ONLY for
      // docs whose text hash recurs (guide §3.2: reduce the side before
      // the expensive work), not for every doc on both join sides.
      // NO forced broadcast of the dup-hash set: its size is bounded
      // only by corpus content (boilerplate-heavy crawls), and the
      // repo rule is that adversarial corpora degrade, never kill, the
      // job — the set comes out of an aggregation, so AQE sees its REAL
      // size at runtime and converts the join to broadcast exactly when
      // it is small (the gate-scale case).
      val basep = pages(s, dir).where(F.length(F.col("text")) > 0)
        .select(F.col("doc_id"), F.col("text"), F.md5(F.col("text")).as("th"))
      val dups = basep.groupBy("th").agg(F.count(F.lit(1)).as("c"))
        .where(F.col("c") > 1).select("th")
      val p = basep.join(dups, "th")
        .select(F.col("doc_id"), F.col("th"),
          MinHashFromText(F.col("text"), 3, 64).as("mh"),
          SimHashFromText(F.col("text")).as("sh"))
        .localCheckpoint(true)
      val a = p.select(F.col("doc_id").as("id_a"), F.col("th"),
        F.col("mh").as("mh_a"), F.col("sh").as("sh_a"))
      val b = p.select(F.col("doc_id").as("id_b"), F.col("th"),
        F.col("mh").as("mh_b"), F.col("sh").as("sh_b"))
      a.join(b, "th").where(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a"), F.col("id_b"),
          (F.col("mh_a") === F.col("mh_b")).as("minhash_equal"),
          (F.col("sh_a") === F.col("sh_b")).as("simhash_equal"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(s"""$P,
         |g AS (SELECT md5(text) AS th, doc_id FROM pages
         |      WHERE length(text) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  TRUE AS minhash_equal, TRUE AS simhash_equal
         |FROM g a JOIN g b ON a.th = b.th AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)),

    // native-Expression MinHash (codegen xxhash64) — scale path
    QueryDef("dedup_minhash_fast", (s, dir) =>
      Dedup.minhashLSHFast(pages(s, dir)
          .where(F.length(F.col("text")) > 0),
          "doc_id", "text", k = 64, bands = 16, n = 3)
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key"),
      oracle = None),

    // native-Expression SimHash (codegen xxhash64 votes) — scale path
    QueryDef("dedup_simhash_fast", (s, dir) =>
      Dedup.simhashFastCandidates(
          pages(s, dir).where(F.length(F.col("text")) > 0),
          "doc_id", "text")
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key"),
      oracle = None)
  )
}
