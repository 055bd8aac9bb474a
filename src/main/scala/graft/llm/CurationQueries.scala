package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables}

/** Registry + DuckDB oracles for the round-7 curation tier
  * ([[CurationOps]]): q155–q161. Same contract as [[LlmQueries]] —
  * every query's output column names match its oracle SQL exactly,
  * every surfaced number follows the no-transcendental determinism
  * discipline. */
object CurationQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** DuckDB cosine, rounded 6dp — identical to LlmQueries.cosSql
    * (elements promote to DOUBLE before multiply, left-to-right fold,
    * division order pinned). */
  private def cosSql(a: String, b: String): String = {
    def dotD(x: String, y: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($x)), " +
        s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))) AS DOUBLE)"
    s"round((${dotD(a, b)} / sqrt(${dotD(a, a)}) / sqrt(${dotD(b, b)})), 6)"
  }

  /** THE canonical near-dup clustering (q61's construction — q43
    * edges at threshold 0.5 / lenTol 5, min-label components):
    * q159/q165/q171 all derive from this ONE helper so a tuning
    * change can never de-synchronize them (their oracles share
    * [[LlmQueries.jaccardPairCtes]] the same way). */
  private def nearDupClusters(s: SparkSession, dir: String) =
    graft.operators.ConnectedComponents(
      Dedup.jaccardPairs(docs(s, dir), threshold = 0.5, lenTol = 5)
        .select(col("a"), col("b")),
      numPartitions = 8)

  /** The q164/q170 LSH-probe oracle chain, parameterized by the probe/
    * index slice predicates and agreement threshold — ONE text for
    * both oracles so the shingle/hash/band formulas can never drift
    * between them (the jaccardPairCtes discipline). */
  private def lshProbeOracleSql(probeWhere: String, idxWhere: String,
                                minAgree: Int, matchCol: String,
                                flagCol: String,
                                extraCols: String = ""): String = {
    val sigCols = (0 until 8).map { i =>
      val (a, b) = Dedup.affine(i)
      s"list_min(list_transform(xs, x -> ($a * x + $b) % ${Dedup.MersennePrime})) AS mh$i"
    }.mkString(",\n    ")
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
       |      ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
       |             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
       |      END) AS shingles FROM documents),
       |sx AS (SELECT doc_id, list_transform(shingles,
       |         s -> CAST('0x' || substr(md5(s), 1, 12) AS BIGINT)) AS xs FROM sh),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM sx),
       |banded AS (
       |  $bandRows),
       |sigarr AS (SELECT doc_id, [mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7] AS sig
       |           FROM sig),
       |cand AS (SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS match_id
       |  FROM banded n JOIN banded i ON n.band = i.band AND n.bucket = i.bucket
       |  WHERE n.doc_id $probeWhere AND i.doc_id $idxWhere),
       |ag AS (SELECT c.doc_id, c.match_id,
       |    CAST(len(list_filter(generate_series(1, 8),
       |      j -> a.sig[j] = b.sig[j])) AS BIGINT) AS k_agree
       |  FROM cand c
       |  JOIN sigarr a ON a.doc_id = c.doc_id
       |  JOIN sigarr b ON b.doc_id = c.match_id),
       |best AS (SELECT doc_id, n_matches, match_id, k_agree FROM (
       |    SELECT doc_id, match_id, k_agree,
       |      CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY k_agree DESC, match_id) AS rn
       |    FROM ag WHERE k_agree >= $minAgree) WHERE rn = 1)
       |SELECT d.doc_id, COALESCE(best.n_matches, 0) AS n_matches,
       |  COALESCE(best.match_id, -1) AS $matchCol,
       |  COALESCE(best.k_agree, 0) AS best_agree,
       |  $extraCols best.doc_id IS NOT NULL AS $flagCol
       |FROM (SELECT doc_id FROM documents WHERE doc_id $probeWhere) d
       |LEFT JOIN best ON best.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q68's frozen quality-score expression as a reusable CTE
    * (`q(doc_id, source, quality_score)`). The weights are part of the
    * q68 contract — if they ever change there, this CTE and
    * [[CorpusOps.qualityScore]] change together. */
  private val qualityCte: String =
    """q AS (SELECT doc_id, source,
      |    2e-3 * n + 2e0 * sr + 1.5e0 * dr - 1e-1 * ml AS quality_score
      |  FROM (SELECT doc_id, source, n,
      |      (CAST(length(text) AS DOUBLE) - n + 1e0) / n AS ml,
      |      CAST(len(list_filter(ws, w -> list_contains(
      |        ['the','a','of','and','to','in','is'], w))) AS DOUBLE) / n AS sr,
      |      CAST(len(list_distinct(ws)) AS DOUBLE) / n AS dr
      |    FROM (SELECT doc_id, source, text, string_split(text, ' ') AS ws,
      |            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
      |          FROM documents)))""".stripMargin

  // ---------------------------------------------------------------- q155
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    CurationOps.chunkDedup(docs(s, dir), w = 16).orderBy("doc_id")

  val chunkDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ch AS (SELECT doc_id, list_transform(
      |    generate_series(1, greatest(len(ws), 1), 16),
      |    i -> array_to_string(list_slice(ws, i, i + 15), ' ')) AS cs FROM w),
      |ex AS (SELECT doc_id, i AS pos, cs[i] AS chunk
      |       FROM ch, unnest(generate_series(1, len(cs))) AS t(i)),
      |sh AS (SELECT md5(chunk) AS h, MIN(doc_id) <> MAX(doc_id) AS shared
      |       FROM ex GROUP BY 1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  md5(COALESCE(string_agg(CASE WHEN NOT shared THEN chunk END,
      |    ' ' ORDER BY pos), '')) AS clean_md5
      |FROM ex JOIN sh ON sh.h = md5(ex.chunk)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q156
  def sourceBoilerplate(s: SparkSession, dir: String): DataFrame =
    CurationOps.sourceBoilerplate(docs(s, dir), k = 8, flagShare = 0.02)
      .orderBy("source")

  val sourceBoilerplateSql: String =
    """WITH p AS (SELECT source,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
      |      AS prefix
      |  FROM documents),
      |c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_prefix
      |      FROM p GROUP BY 1, 2)
      |SELECT source, n_docs, prefix AS top_prefix, n_prefix,
      |  CAST(n_prefix AS DOUBLE) / n_docs AS share,
      |  CAST(n_prefix AS DOUBLE) / n_docs >= 2e-2 AS boilerplate
      |FROM (SELECT *,
      |    CAST(SUM(n_prefix) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_prefix DESC, prefix) AS rn
      |  FROM c) WHERE rn = 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q157
  def semDedup(s: SparkSession, dir: String): DataFrame =
    CurationOps.semDedup(emb(s, dir), tau = 0.35, centStride = 100)
      .orderBy("vec_id")

  val semDedupSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS ce FROM e WHERE vec_id % 100 = 0),
       |assigned AS (
       |  SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.v", "c.ce")} DESC, c.cent_id) AS rn
       |    FROM e CROSS JOIN cents c) WHERE rn = 1),
       |drp AS (SELECT DISTINCT r.vec_id
       |  FROM assigned l JOIN assigned r
       |    ON l.cent_id = r.cent_id AND l.vec_id < r.vec_id
       |  WHERE ${cosSql("l.v", "r.v")} >= 0.35)
       |SELECT a.vec_id, a.cent_id, d.vec_id IS NOT NULL AS dropped
       |FROM assigned a LEFT JOIN drp d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------- q158
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    CurationOps.dsirWeights(docs(s, dir), targetLang = "en", buckets = 64,
      materialize = _.localCheckpoint())
      .orderBy("doc_id")

  val dsirWeightsSql: String =
    """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 6) AS BIGINT)
      |      % 64 AS bucket
      |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
      |dom AS (SELECT unnest(generate_series(0, 63)) AS bucket),
      |cr AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1),
      |ct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM bg
      |       WHERE lang = 'en' GROUP BY 1),
      |pb AS (SELECT dom.bucket,
      |         COALESCE(cr.c, 0) AS c_r, COALESCE(ct.c, 0) AS c_t
      |       FROM dom LEFT JOIN cr ON cr.bucket = dom.bucket
      |                LEFT JOIN ct ON ct.bucket = dom.bucket),
      |tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
      |               CAST(SUM(c_t) AS BIGINT) AS n_t FROM pb),
      |sc AS (SELECT bucket,
      |         (1000000000 * (c_t + 1)) // (n_t + 64) AS p_t,
      |         (1000000000 * (c_r + 1)) // (n_r + 64) AS p_r
      |       FROM pb CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(p_t - p_r) AS BIGINT) AS score_scaled
      |FROM bg JOIN sc USING (bucket)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q159
  def clusterReps(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clusters = nearDupClusters(s, dir)
    CurationOps.clusterRepresentatives(
        clusters, CorpusOps.qualityScore(d))
      .orderBy("component")
  }

  val clusterRepsSql: String =
    s"""WITH RECURSIVE ${LlmQueries.jaccardPairCtes},
       |sym AS (SELECT a AS src, b AS dst FROM pr
       |        UNION SELECT b, a FROM pr),
       |walk(id, label) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id),
       |comp AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id),
       |$qualityCte
       |SELECT component, cluster_size, doc_id AS rep_doc_id,
       |  quality_score AS rep_score
       |FROM (SELECT c.component, q.doc_id, q.quality_score,
       |    CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT)
       |      AS cluster_size,
       |    ROW_NUMBER() OVER (PARTITION BY c.component
       |      ORDER BY q.quality_score DESC, q.doc_id) AS rn
       |  FROM comp c JOIN q ON q.doc_id = c.id)
       |WHERE rn = 1 ORDER BY component""".stripMargin

  // ---------------------------------------------------------------- q160
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val quality = d.select(col("doc_id"), col("source"))
      .join(CorpusOps.qualityScore(d)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    CurationOps.curriculumOrder(quality).orderBy("doc_id")
  }

  val curriculumOrderSql: String =
    s"""WITH $qualityCte,
       |d AS (SELECT doc_id, source, NTILE(10) OVER (
       |    ORDER BY quality_score DESC, doc_id) AS decile FROM q)
       |SELECT doc_id, source, decile,
       |  ROW_NUMBER() OVER (PARTITION BY decile, source ORDER BY doc_id) AS rr
       |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q161
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    CurationOps.ngramNovelty(docs(s, dir), n = 5, trainPct = 96,
      materialize = _.localCheckpoint())
      .orderBy("doc_id")

  val ngramNoveltySql: String =
    """WITH s AS (SELECT doc_id, text,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |      % 100 < 96 AS in_train
      |  FROM documents),
      |g AS (SELECT doc_id, in_train, unnest(list_distinct(
      |    CASE WHEN len(string_split(text, ' ')) < 5 THEN [text]
      |    ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
      |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))
      |    END)) AS gram FROM s),
      |tr AS (SELECT DISTINCT gram FROM g WHERE in_train)
      |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM g LEFT JOIN tr t ON t.gram = g.gram
      |WHERE NOT g.in_train GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------- q162
  def cdcChunkDedup(s: SparkSession, dir: String): DataFrame =
    CurationOps.cdcChunkDedup(docs(s, dir), divisor = 16).orderBy("doc_id")

  val cdcChunkDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, i AS pos, ws[i] AS word,
      |        array_to_string(list_slice(ws, i, i + 3), ' ') AS win
      |      FROM w, unnest(generate_series(1, len(ws))) AS u(i)),
      |b AS (SELECT doc_id, pos, word,
      |        CASE WHEN pos = 1 OR
      |          CAST('0x' || substr(md5(win), 1, 6) AS BIGINT) % 16 = 0
      |        THEN 1 ELSE 0 END AS bd FROM t),
      |s AS (SELECT doc_id, pos, word, CAST(SUM(bd) OVER (
      |        PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS seg FROM b),
      |seg AS (SELECT doc_id, seg, MIN(pos) AS spos,
      |          string_agg(word, ' ' ORDER BY pos) AS stext
      |        FROM s GROUP BY 1, 2),
      |sh AS (SELECT md5(stext) AS h, MIN(doc_id) <> MAX(doc_id) AS shared
      |       FROM seg GROUP BY 1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
      |  CAST(SUM(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  md5(COALESCE(string_agg(CASE WHEN NOT shared THEN stext END,
      |    ' ' ORDER BY spos), '')) AS clean_md5
      |FROM seg JOIN sh ON sh.h = md5(seg.stext)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q163
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    CurationOps.sourceOverlap(docs(s, dir), n = 5)
      .orderBy("src_a", "src_b")

  val sourceOverlapSql: String =
    """WITH g AS (SELECT DISTINCT source, md5(gram) AS gh
      |  FROM (SELECT source, unnest(list_distinct(
      |      CASE WHEN len(string_split(text, ' ')) < 5 THEN [text]
      |      ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
      |             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))
      |      END)) AS gram FROM documents)),
      |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
      |        FROM g GROUP BY 1)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared,
      |  CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n_grams) AS overlap_frac
      |FROM g a JOIN g b ON a.gh = b.gh AND a.source <> b.source
      |JOIN tot ON tot.source = a.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Incremental dedup against the persisted LSH signature index:
    * the corpus slice `doc_id % 10 != 7` is "already ingested" (its
    * index is built once per (JVM, sf-dir) — the q57 amortization
    * pattern, guarded so bench reps measure the PROBE, not repeated
    * index construction); the `% 10 == 7` slice is the incoming wave
    * probed against it. */
  def dedupAgainstIndex(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // table name carries the sf-dir so two dirs in one JVM can't read
    // each other's index; the fixture key IS the table name
    val table = s"graft_lsh_index_${math.abs(dir.hashCode.toLong)}"
    Fixtures("graft-lsh-index", table) {
      Dedup.writeLshIndex(d.filter(col("doc_id") % 10 =!= 7),
        table, k = 8, bands = 4, shingle = 3)
    }
    Dedup.dedupAgainstIndex(s, table,
        d.filter(col("doc_id") % 10 === 7), k = 8, bands = 4, shingle = 3,
        minAgree = 4)
      .orderBy("doc_id")
  }

  val dedupAgainstIndexSql: String =
    lshProbeOracleSql(probeWhere = "% 10 = 7", idxWhere = "% 10 <> 7",
      minAgree = 4, matchCol = "best_match_id", flagCol = "is_dup",
      extraCols = "CAST(COALESCE(best.k_agree, 0) AS DOUBLE) / 8 AS est_jaccard,")

  // ---------------------------------------------------------------- q168
  /** Funnel over the q62 convention: `doc_id % 50 == 0` is the eval
    * benchmark slice, the rest is the training corpus. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    CurationOps.curationFunnel(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0), n = 5,
      materialize = _.localCheckpoint())
      .orderBy("source")
  }

  val curationFunnelSql: String =
    """WITH tr AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
      |ev AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
      |q AS (SELECT doc_id,
      |    2e-3 * n + 2e0 * sr + 1.5e0 * dr - 1e-1 * ml >= 1e0 AS keep
      |  FROM (SELECT doc_id, n,
      |      (CAST(length(text) AS DOUBLE) - n + 1e0) / n AS ml,
      |      CAST(len(list_filter(ws, w -> list_contains(
      |        ['the','a','of','and','to','in','is'], w))) AS DOUBLE) / n AS sr,
      |      CAST(len(list_distinct(ws)) AS DOUBLE) / n AS dr
      |    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws,
      |            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
      |          FROM tr))),
      |k AS (SELECT doc_id,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
      |  FROM tr JOIN q USING (doc_id) WHERE keep),
      |g AS (SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(string_split(text, ' ')) < 5 THEN [text]
      |    ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
      |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))
      |    END)) AS gram FROM tr),
      |eg AS (SELECT DISTINCT unnest(list_distinct(
      |    CASE WHEN len(string_split(text, ' ')) < 5 THEN [text]
      |    ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
      |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))
      |    END)) AS gram FROM ev),
      |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN keep AND is_keeper THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(SUM(CASE WHEN keep AND is_keeper AND cont.doc_id IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
      |  (1000000 * CAST(SUM(CASE WHEN keep AND is_keeper AND cont.doc_id IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
      |    AS survival_ppm
      |FROM tr JOIN q USING (doc_id) LEFT JOIN k USING (doc_id)
      |LEFT JOIN cont ON cont.doc_id = tr.doc_id
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q165
  def leakageFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clusters = nearDupClusters(s, dir)
    CurationOps.leakageFreeSplit(d, clusters).orderBy("doc_id")
  }

  val leakageFreeSplitSql: String =
    s"""WITH RECURSIVE ${LlmQueries.jaccardPairCtes},
       |sym AS (SELECT a AS src, b AS dst FROM pr
       |        UNION SELECT b, a FROM pr),
       |walk(id, label) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id),
       |comp AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id)
       |SELECT doc_id, rep, bucket,
       |  CASE WHEN bucket < 96 THEN 'train'
       |       WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep,
       |    CAST('0x' || substr(md5(CAST(COALESCE(c.component, d.doc_id)
       |      AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q170
  /** FUZZY decontamination — the near-dup upgrade of q62's exact
    * 5-gram rule: training docs that are lightly-edited (paraphrase-
    * level) copies of an eval benchmark doc still leak answers, and
    * exact gram overlap misses them once a few words change. Probe
    * every training doc against the EVAL set's LSH signature index
    * ([[Dedup.dedupAgainstIndexDf]] with the roles swapped — the eval
    * set is the index, the corpus is the wave): signature agreement
    * ≥ 3/8 ≈ estimated Jaccard ≥ 0.375, looser than dedup's 0.5
    * because contamination screening wants recall.
    *
    * Shape at 100 TB: eval benchmarks are metadata-scale, so their
    * signature index rides ONE broadcast (~k longs + band keys per
    * eval doc); the corpus side is a narrow signature map + the
    * broadcast join — the same cost class as the bloom decontaminate
    * (q104), but catching edits instead of only verbatim grams. */
  def fuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // roles are swapped vs q164: the WAVE is the corpus (big) and the
    // index is the eval set (small) — so the probe must NOT broadcast;
    // Spark's size check then broadcasts the eval-index side instead
    Dedup.dedupAgainstIndexDf(
        Dedup.lshIndexRows(d.filter(col("doc_id") % 50 === 0)),
        d.filter(col("doc_id") % 50 =!= 0), minAgree = 3,
        broadcastProbe = false)
      .select(col("doc_id"), col("n_matches"),
        col("best_match_id").as("eval_match_id"), col("best_agree"),
        col("is_dup").as("contaminated_fuzzy"))
      .orderBy("doc_id")
  }

  val fuzzyDecontaminateSql: String =
    lshProbeOracleSql(probeWhere = "% 50 <> 0", idxWhere = "% 50 = 0",
      minAgree = 3, matchCol = "eval_match_id", flagCol = "contaminated_fuzzy")

  // ---------------------------------------------------------------- q171
  /** Dedup-yield report: the near-dup cluster SIZE distribution (q61's
    * components) with, per size, how many documents those clusters
    * hold and how many deduplication would remove (`size − 1` each,
    * min-id survivor) — the "what do we actually gain" readout that
    * turns a cluster table into a storage/compute decision. The
    * histogram is cluster-count-sized; everything after the q43/q61
    * edge work is metadata-scale. */
  def dedupYield(s: SparkSession, dir: String): DataFrame = {
    val clusters = nearDupClusters(s, dir)
    clusters.groupBy(col("component")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("n_removable"))
      .orderBy(col("size"))
  }

  val dedupYieldSql: String =
    s"""WITH RECURSIVE ${LlmQueries.jaccardPairCtes},
       |sym AS (SELECT a AS src, b AS dst FROM pr
       |        UNION SELECT b, a FROM pr),
       |walk(id, label) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id),
       |comp AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id),
       |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS size
       |       FROM comp GROUP BY 1)
       |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(size * COUNT(*) AS BIGINT) AS n_docs,
       |  CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
       |FROM cs GROUP BY size ORDER BY size""".stripMargin

  // ---------------------------------------------------------------- q174
  /** Embedding-drift monitor: per label, the cosine between the class
    * centroid computed over the even-vec_id snapshot slice and the
    * odd-vec_id slice — near 1.0 means the class geometry is stable
    * across snapshots, a dip is the "your embedding space moved"
    * alarm (re-index ANN structures, re-fit prototypes) raised from
    * the data instead of from downstream eval decay. Centroids use
    * q110's decimal-exact recipe (round-6 components, DECIMAL(18,6)
    * order-independent sums, ONE division); the drift cosine is the
    * house pinned fold rounded to 6 dp.
    *
    * Shape: one posexplode shuffle to (label, slice, pos) with
    * map-side partial sums; everything after is |labels|-grain. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val cent = emb(s, dir)
      .select(col("label"), (col("vec_id") % 2 === 0).as("ha"),
        posexplode(expr("transform(embedding, x -> round(CAST(x AS DOUBLE), 6))"))
          .as(Seq("pos", "x")))
      .groupBy(col("label"), col("ha"), col("pos"))
      .agg((sum(col("x").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("c"),
        count(lit(1)).as("n"))
      .groupBy(col("label"), col("ha"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), p -> p.c)")
          .as("cv"),
        max(col("n")).as("n_vecs"))
    cent.filter(col("ha"))
      .select(col("label"), col("cv").as("ca"), col("n_vecs").as("n_a"))
      .join(cent.filter(!col("ha"))
        .select(col("label"), col("cv").as("cb"), col("n_vecs").as("n_b")),
        Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(Similarity.cosine(col("ca"), col("cb")), 6).as("drift_cos"))
      .orderBy(col("label"))
  }

  val embeddingDriftSql: String =
    s"""WITH parts AS (SELECT label, vec_id % 2 = 0 AS ha, i - 1 AS pos,
       |    round(CAST(e AS DOUBLE), 6) AS x
       |  FROM (SELECT label, vec_id, unnest(embedding) AS e,
       |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
       |cent AS (SELECT label, ha, pos,
       |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM parts GROUP BY 1, 2, 3),
       |vecs AS (SELECT label, ha, list(c ORDER BY pos) AS cv, MAX(n) AS n_vecs
       |         FROM cent GROUP BY 1, 2)
       |SELECT a.label, a.n_vecs AS n_a, b.n_vecs AS n_b,
       |  ${cosSql("a.cv", "b.cv")} AS drift_cos
       |FROM vecs a JOIN vecs b ON a.label = b.label AND a.ha AND NOT b.ha
       |ORDER BY a.label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_chunk_dedup" -> (chunkDedup _),
    "q156_source_boilerplate" -> (sourceBoilerplate _),
    "q157_semdedup" -> (semDedup _),
    "q158_dsir_weights" -> (dsirWeights _),
    "q159_cluster_reps" -> (clusterReps _),
    "q160_curriculum_order" -> (curriculumOrder _),
    "q161_ngram_novelty" -> (ngramNovelty _),
    "q162_cdc_chunk_dedup" -> (cdcChunkDedup _),
    "q163_source_overlap" -> (sourceOverlap _),
    "q164_dedup_against_index" -> (dedupAgainstIndex _),
    "q165_leakage_free_split" -> (leakageFreeSplit _),
    "q168_curation_funnel" -> (curationFunnel _),
    "q170_fuzzy_decontaminate" -> (fuzzyDecontaminate _),
    "q171_dedup_yield" -> (dedupYield _),
    "q174_embedding_drift" -> (embeddingDrift _),
  )

  val oracles: Map[String, String] = Map(
    "q155_chunk_dedup" -> chunkDedupSql,
    "q156_source_boilerplate" -> sourceBoilerplateSql,
    "q157_semdedup" -> semDedupSql,
    "q158_dsir_weights" -> dsirWeightsSql,
    "q159_cluster_reps" -> clusterRepsSql,
    "q160_curriculum_order" -> curriculumOrderSql,
    "q161_ngram_novelty" -> ngramNoveltySql,
    "q162_cdc_chunk_dedup" -> cdcChunkDedupSql,
    "q163_source_overlap" -> sourceOverlapSql,
    "q164_dedup_against_index" -> dedupAgainstIndexSql,
    "q165_leakage_free_split" -> leakageFreeSplitSql,
    "q168_curation_funnel" -> curationFunnelSql,
    "q170_fuzzy_decontaminate" -> fuzzyDecontaminateSql,
    "q171_dedup_yield" -> dedupYieldSql,
    "q174_embedding_drift" -> embeddingDriftSql,
  )
}
