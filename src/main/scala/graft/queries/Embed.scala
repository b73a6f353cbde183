package graft.queries

import graft.{Fixture, Q, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 C — embedding similarity: brute-force top-k baseline,
  * sign-LSH bucketed ANN, and label-partitioned (IVF-style) near-dup
  * pair mining. Cosines are rounded to 6dp decimals in both engines
  * before any threshold/rank decision. */
object Embed {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // duckdb helpers: norm per vector; dot via correlated range lambda
  // (sequential left-to-right double accumulation, same fold order as
  // the Spark `aggregate` expression)
  private val normCte =
    """v AS (SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       FROM embeddings)"""
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
  // arithmetic 6dp rounding — same floor(x*1e6+0.5)/1e6 the Spark side
  // computes, so the raw doubles (bit-identical across engines) round
  // identically with no BigDecimal anywhere
  private def cosRSql(a: String, b: String) =
    s"floor((${dotSql(a, b)} / ($a.nrm * $b.nrm)) * 1000000.0 + 0.5) / 1000000.0"
  // multi-table LSH oracle, generated from the SAME constants the
  // Spark operator uses (bits/tables/dim-pair hyperplanes) so the two
  // can never drift. BITS follows the corpusBits occupancy rule, not
  // a fixed constant (§6's second-decade run measured fixed-bits s2 at
  // quadratic growth: occupancy ×10 per decade × probes ×10): the
  // Spark queries size it from a metadata-cheap corpus count, and the
  // oracle pins the value the rule yields at the correctness gate's SF
  // (500 vectors, occupancy 8 → bits = 6).
  private val T = Similarity.LSH_TABLES
  private val CB = Similarity.corpusBits(500)
  private def bandSqlOf(src: String, t: Int, bits: Int): String =
    (0 until bits).map { i =>
      val (a, b) = Similarity.planeDims(t * bits + i)
      s"(CASE WHEN $src[${a + 1}] >= $src[${b + 1}] THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
  private val corpusBandsSql = (0 until T)
    .map(t => s"SELECT vec_id, embedding, nrm, $t AS t, ${bandSqlOf("embedding", t, CB)} AS bkt FROM v")
    .mkString("\n      UNION ALL ")
  private val flipValuesSql = (0 until CB).map(i => s"(${1 << i})").mkString(",")

  val d5 = Q("d5_embed_neardup", Some(s"""
    WITH $normCte,
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, ${cosRSql("a", "b")} AS c6
          FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT v1, v2, c6 AS cos6 FROM p
    WHERE c6 >= 0.4 ORDER BY v1, v2""")) { (s, d) =>
    Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
      col("label"), 0.4)
      .orderBy("v1", "v2")
  }

  val s1 = Q("s1_knn_brute", Some(s"""
    WITH $normCte,
    pr AS (SELECT vec_id, embedding, nrm FROM v WHERE vec_id % 17 = 0),
    sc AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
             ${cosRSql("a", "b")} AS c6
           FROM pr a JOIN v b ON b.vec_id <> a.vec_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    Similarity.bruteKnn(t(s, d, "embeddings"), "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5)
      .orderBy("probe_id", "rn")
  }

  // factored like s8's: the RRF fusion (s13) composes this verbatim
  private val s2OracleSql = s"""
    WITH $normCte,
    cb AS ($corpusBandsSql),
    pb0 AS (SELECT vec_id, t, bkt FROM cb WHERE vec_id % 17 = 0),
    pb AS (SELECT vec_id, t, bkt FROM pb0
           UNION ALL
           SELECT vec_id, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM pb0 CROSS JOIN (VALUES $flipValuesSql) fl(f)),
    cand AS (SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
             FROM pb a JOIN cb b ON a.t = b.t AND a.bkt = b.bkt
               AND b.vec_id <> a.vec_id),
    sc AS (SELECT c.probe_id, c.neighbor_id, ${cosRSql("a", "b")} AS c6
           FROM cand c JOIN v a ON a.vec_id = c.probe_id
                       JOIN v b ON b.vec_id = c.neighbor_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn"""

  val s2 = Q("s2_knn_lsh", Some(s2OracleSql)) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    Similarity.lshKnn(vecs, "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(vecs.count()))
      .orderBy("probe_id", "rn")
  }

  // Fixed-cardinality anchor/seed rule for the BRUTE (teaching-form)
  // quantizers: every 125th vec_id, capped at 64 anchors. The cap is
  // the pure predicate vec_id < 125·64 — no count, no window, still
  // map-only — and is the fix for the k ∝ corpus trap: uncapped,
  // |corpus|·k brute assignment is quadratic at the second scale
  // decade. It never binds at the correctness gate's SF (4 anchors)
  // or the bench SF (40), so results there are unchanged; at sf1+ it
  // pins k = 64 and brute assignment is linear. The flip side is the
  // standard IVF trade: fixed k means cell occupancy grows with the
  // corpus, so the SEARCH stage of s3/s5/s7 grows with it — the
  // shipped forms (s6/s8/d16) keep k ∝ corpus AND stay linear via the
  // banded assignment, which is why they exist.
  private val anchorPredSql = "vec_id % 125 = 0 AND vec_id < 8000"
  private val anchorPred = col("vec_id") % 125 === 0 && col("vec_id") < 8000

  // IVF coarse-quantizer CTEs (anchors = the fixed-K rule above;
  // asg = (vec_id, embedding, nrm, cell) by max-cosine anchor,
  // anchor_id tie-break) — shared verbatim by s3 (cell-restricted
  // exact search) and s5 (cell-restricted PQ code search), so the two
  // index structures can never drift.
  private val ivfCtes = s"""
    anch AS (SELECT vec_id AS anchor_id, embedding AS ae, nrm AS anrm
             FROM v WHERE $anchorPredSql),
    asg0 AS (SELECT v.vec_id, v.embedding, v.nrm, anch.anchor_id,
               floor((list_sum(list_transform(range(1, 65),
                        i -> v.embedding[i]::DOUBLE * anch.ae[i]::DOUBLE)) /
                      (v.nrm * anch.anrm)) * 1000000.0 + 0.5) / 1000000.0 AS ac
             FROM v CROSS JOIN anch),
    asg AS (SELECT vec_id, embedding, nrm, anchor_id AS cell FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY ac DESC, anchor_id) AS arn FROM asg0)
            WHERE arn = 1)"""

  // s3: IVF — anchors are the fixed-K corpus subset (anchorPred);
  // every vector is assigned to its max-cosine anchor (tie-break by
  // anchor_id), probes search only their own cell. TEACHING FORM:
  // assignment is linear under the fixed-K cap, but per-cell
  // occupancy (= search work) grows with the corpus — s8 is the
  // shipped composition.
  val s3 = Q("s3_knn_ivf", Some(s"""
    WITH $normCte,
    $ivfCtes,
    pr AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE vec_id % 17 = 0),
    sc AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
             ${cosRSql("a", "b")} AS c6
           FROM pr a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    Similarity.ivfKnn(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, col("vec_id") % 17 === 0, 5)
      .orderBy("probe_id", "rn")
  }

  /** s7: multi-probe IVF — the standard recall knob: each probe
    * searches its TWO nearest cells (corpus vectors still live in
    * exactly one), so a true neighbor assigned to the probe's
    * second-closest cell becomes reachable. Same assignment CTEs as
    * s3; only the probe-side cell set widens (rn <= 2 over the
    * probe×anchor scores). */
  val s7 = Q("s7_knn_ivf_mp", Some(s"""
    WITH $normCte,
    $ivfCtes,
    pra AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm,
              anchor_id AS cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ac DESC, anchor_id) AS arn
            FROM asg0 WHERE vec_id % 17 = 0),
    pr AS (SELECT probe_id, pe, pnrm, cell FROM pra WHERE arn <= 2),
    sc AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
             floor((list_sum(list_transform(range(1, 65),
                      i -> p.pe[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
                    (p.pnrm * b.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS c6
           FROM pr p JOIN asg b ON p.cell = b.cell
             AND b.vec_id <> p.probe_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    Similarity.ivfKnn(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, col("vec_id") % 17 === 0, 5, nprobe = 2)
      .orderBy("probe_id", "rn")
  }

  // s4: IVF training — 2 Lloyd iterations of cosine k-means. Seeds =
  // the fixed-K anchor rule; iteration-2 centroids are per-dim EXACT means
  // (6dp scaled longs, order-independent in both engines).
  // ::DOUBLE before the multiply is LOAD-BEARING: DuckDB keeps
  // FLOAT * 1000000.0 in FLOAT precision (typeof = FLOAT), so without
  // the cast the scaled-long floor can land one unit off Spark's
  // double-math value near .5 boundaries (seen in s5's LUT as a 1e-6
  // est6 mismatch; latent here because s4/d13's outputs survived the
  // boundary flips at test SF)
  private val meanExprs = (1 to 64).map(i =>
    s"CAST(sum(CAST(floor(embedding[$i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(*)")
    .mkString("[", ", ", "]")

  // s5: IVF-PQ — the 1e9-vector production composition: the s3 coarse
  // quantizer restricts each probe to its cell; PRODUCT-QUANTIZED
  // codes score candidates via a probe LUT, estimated dot = exact
  // scaled-long sum of the 8 LUT hits. The codebook is TRAINED at
  // FIXED K=64: seeds = global top-64 by (md5(vec_id), vec_id) — a
  // deterministic pseudo-random sample — then one Lloyd update
  // (argmax-dot assignment, per-dim exact 6dp-scaled-long means).
  // The whole train→index→encode→LUT→rank path is reproduced in SQL
  // from the same constants, so PQ's approximation is hash-checked,
  // not sampled.
  private val mValues = (0 until 8).map(j => s"($j)").mkString(",")
  // per-dim exact mean of the assigned subvectors' dim i (i = 1..8
  // within subspace t.m) — same scaled-long arithmetic as meanExprs
  private val cwMeanExprs = (1 to 8).map(i =>
    s"CAST(sum(CAST(floor(s.embedding[t.m * 8 + $i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(*)")
    .mkString("[", ", ", "]")
  // scaled-long dot of subspace c.m of full vector `vec` against the
  // trained 8-dim codeword c.cvec
  private def cwDot(vec: String) =
    s"CAST(floor(list_sum(list_transform(range(1, 9), " +
      s"i -> $vec[c.m * 8 + i]::DOUBLE * c.cvec[i])) * 1000000.0 + 0.5) AS BIGINT)"

  // PQ codebook training CTEs (fixed K=64, one Lloyd update; ends at
  // cw = (m, k, cvec DOUBLE[8])) — mirrors Similarity.trainPqCodebook
  private val pqTrainCtes = s"""
    sk AS (SELECT * FROM
            (SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS k
             FROM v)
           WHERE k < 64),
    ta0 AS (SELECT s.vec_id, mm.m, sk.k,
              CAST(floor(list_sum(list_transform(range(1 + mm.m * 8, 9 + mm.m * 8),
                i -> s.embedding[i]::DOUBLE * sk.embedding[i]::DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS d6
            FROM v s CROSS JOIN (VALUES $mValues) mm(m) CROSS JOIN sk),
    ta AS (SELECT vec_id, m, k FROM
            (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                         ORDER BY d6 DESC, k) AS rn FROM ta0)
           WHERE rn = 1),
    cw AS (SELECT t.m, t.k, $cwMeanExprs AS cvec
           FROM ta t JOIN v s ON s.vec_id = t.vec_id
           GROUP BY t.m, t.k)"""

  // the PQ ENCODE CTEs over an `asg`(vec_id, embedding, cell) CTE
  // (ends at codes = (vec_id, cell, m, code)) — mirrors
  // Similarity.pqEncode; factored from the single-cell probe tail so
  // the multi-probe ADC oracle (s14) scores the IDENTICAL codes
  private val pqCodesCtes = s"""
    cd0 AS (SELECT s.vec_id, s.cell, c.m, c.k,
              ${cwDot("s.embedding")} AS d6
            FROM asg s CROSS JOIN cw c),
    codes AS (SELECT vec_id, cell, m, k AS code FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY d6 DESC, k) AS rn FROM cd0)
              WHERE rn = 1)"""

  // the PQ encode→LUT→ADC-rank tail over an `asg`(vec_id, embedding,
  // cell) CTE — shared verbatim by s5 (brute coarse quantizer) and s6
  // (LSH coarse quantizer), mirroring Similarity.pqSearch so the two
  // oracles can't drift in scoring semantics
  private val pqTailSql = s"""
    $pqCodesCtes,
    pr AS (SELECT vec_id AS probe_id, embedding AS pe, cell AS pcell
           FROM asg WHERE vec_id % 17 = 0),
    plut AS (SELECT p.probe_id, p.pcell, c.m, c.k,
               ${cwDot("p.pe")} AS lutS
             FROM pr p CROSS JOIN cw c),
    est AS (SELECT l.probe_id, k.vec_id AS neighbor_id,
              CAST(sum(l.lutS) AS DOUBLE) / 1000000.0 AS est6
            FROM codes k JOIN plut l ON l.m = k.m AND l.k = k.code
              AND l.pcell = k.cell
            WHERE k.vec_id <> l.probe_id
            GROUP BY l.probe_id, k.vec_id),
    r AS (SELECT probe_id, neighbor_id, est6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY est6 DESC, neighbor_id) AS rn FROM est)"""

  val s5 = Q("s5_knn_pq", Some(s"""
    WITH $normCte,
    $ivfCtes,
    $pqTrainCtes,
    $pqTailSql
    SELECT probe_id, rn, neighbor_id, est6
    FROM r WHERE rn <= 5 ORDER BY probe_id, rn""")) { (s, d) =>
    Similarity.ivfPqKnn(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, col("vec_id") % 17 === 0, 5)
      .orderBy("probe_id", "rn")
  }

  // the 2-iteration Lloyd loop as shared CTEs (ends at asg2 =
  // (vec_id, cell)) — used verbatim by s4 (the training loop itself)
  // and d13 (SemDeDup over the trained cells), so the two can't drift
  private val kmeansCtes = s"""
    sc0 AS (SELECT v.vec_id, v.embedding, v.nrm, a.vec_id AS cell,
              ${cosRSql("v", "a")} AS ac
            FROM v CROSS JOIN
              (SELECT vec_id, embedding, nrm FROM v WHERE $anchorPredSql) a),
    asg1 AS (SELECT vec_id, embedding, cell FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY ac DESC, cell) AS rn FROM sc0)
             WHERE rn = 1),
    cent AS (SELECT cell, $meanExprs AS ce FROM asg1 GROUP BY cell),
    sc1 AS (SELECT v.vec_id, c.cell,
             floor(((list_sum(list_transform(range(1, 65),
                      i -> v.embedding[i]::DOUBLE * c.ce[i])) /
                    (v.nrm * sqrt(list_sum(list_transform(c.ce, x -> x * x))))))
               * 1000000.0 + 0.5) / 1000000.0 AS ac
            FROM v CROSS JOIN cent c),
    asg2 AS (SELECT vec_id, cell FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY ac DESC, cell) AS rn FROM sc1)
             WHERE rn = 1)"""

  val s4 = Q("s4_kmeans", Some(s"""
    WITH $normCte,
    $kmeansCtes
    SELECT vec_id, cell FROM asg2 ORDER BY vec_id""")) { (s, d) =>
    Similarity.kmeansAssign(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, iters = 2)
      .orderBy("vec_id")
  }

  /** d13: SemDeDup — semantic dedup over the k-means cells s4 trains:
    * near-dup pairs mined ONLY within a cell, greater id of every
    * >= 0.35-cosine pair dropped, survivors counted per label. The
    * embedding-space twin of d6: it removes paraphrase-level
    * duplicates that share no shingles and pass every lexical dedup.
    * At sf0.01 this drops 110 of 500 vectors. TEACHING FORM: the
    * fixed-K seed cap keeps the brute Lloyd assignment linear, at the
    * cost of cell occupancy (= pair-mine work) growing with the
    * corpus; SemDeDup's real k ∝ corpus sizing needs the banded
    * assignment — d16 is the shipped form. */
  val d13 = Q("d13_semdedup", Some(s"""
    WITH $normCte,
    $kmeansCtes,
    av AS (SELECT v.vec_id, v.embedding, v.nrm, asg2.cell
           FROM v JOIN asg2 USING (vec_id)),
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, ${cosRSql("a", "b")} AS c6
          FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    dups AS (SELECT DISTINCT v2 FROM p WHERE c6 >= 0.35)
    SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs
    FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM dups WHERE v2 = e.vec_id)
    GROUP BY label ORDER BY label""")) { (s, d) =>
    Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, 0.35)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label")
  }

  // ---- d16: SemDeDup with the LSH-accelerated coarse assignment ----
  // The assignment-side twin of d11's fix: d13's Lloyd passes score
  // every vector against every centroid (|corpus|·k dots; k ∝ corpus
  // under SemDeDup's constant-cell-size rule → quadratic — measured at
  // the SECOND scale decade, §6: invisible at sf1, dominant at sf10).
  // d16 scores only centroids sharing a sign-LSH band with the vector
  // (+ Hamming-1 probes), with an EXACT brute fallback for vectors
  // sharing no band with any centroid. `bits` follows the LSH_BITS
  // sizing rule against k; the oracle pins the rule's value at the
  // correctness gate's SF (k = 4 seeds at sf0.01 → bits = 2) and
  // regenerates the same hyperplanes/flips from the shared constants.
  private val DB = Similarity.corpusBits(4, 4) // = 2 at the gate SF (k = 4 seeds)
  private val dFlipValues = (0 until DB).map(i => s"(${1 << i})").mkString(",")
  // cosine of vector p against a DOUBLE-array centroid c.ce (norm
  // computed from the centroid itself) — same expression as sc1
  private val cosCentSql =
    """floor(((list_sum(list_transform(range(1, 65),
         i -> p.embedding[i]::DOUBLE * c.ce[i])) /
       (p.nrm * sqrt(list_sum(list_transform(c.ce, x -> x * x))))))
       * 1000000.0 + 0.5) / 1000000.0"""
  // pass-1 LSH-banded assignment (seeds → banded candidates →
  // Hamming-1 probes → argmax + exact brute fallback, ending at
  // lasg1 = (vec_id, embedding, cell)) — shared by the d16 Lloyd
  // loop (as its first iteration) and s6 (as its entire coarse
  // quantizer), so the band machinery can't drift between them
  private val lshAssign1Ctes = s"""
    seeds AS (SELECT vec_id AS cell, embedding AS ce, nrm AS cnrm
              FROM v WHERE vec_id % 125 = 0),
    cb1 AS (${(0 until T).map(t =>
      s"SELECT cell, ce, cnrm, $t AS t, ${bandSqlOf("ce", t, DB)} AS bkt FROM seeds")
      .mkString("\n      UNION ALL ")}),
    vb0 AS (${(0 until T).map(t =>
      s"SELECT vec_id, embedding, nrm, $t AS t, ${bandSqlOf("embedding", t, DB)} AS bkt FROM v")
      .mkString("\n      UNION ALL ")}),
    vp AS (SELECT vec_id, embedding, nrm, t, bkt FROM vb0
           UNION ALL
           SELECT vec_id, embedding, nrm, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM vb0 CROSS JOIN (VALUES $dFlipValues) fl(f)),
    ca1 AS (SELECT p.vec_id, p.embedding, p.nrm, c.cell,
              floor((list_sum(list_transform(range(1, 65),
                       i -> p.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) /
                     (p.nrm * c.cnrm)) * 1000000.0 + 0.5) / 1000000.0 AS ac
            FROM vp p JOIN cb1 c ON p.t = c.t AND p.bkt = c.bkt),
    as1c AS (SELECT vec_id, embedding, cell FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY ac DESC, cell) AS rn FROM ca1)
             WHERE rn = 1),
    fb1 AS (SELECT vec_id, embedding, cell FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY ac DESC, cell) AS rn FROM
               (SELECT w.vec_id, w.embedding, s.cell,
                  floor((list_sum(list_transform(range(1, 65),
                           i -> w.embedding[i]::DOUBLE * s.ce[i]::DOUBLE)) /
                         (w.nrm * s.cnrm)) * 1000000.0 + 0.5) / 1000000.0 AS ac
                FROM v w CROSS JOIN seeds s
                WHERE NOT EXISTS (SELECT 1 FROM as1c x
                                  WHERE x.vec_id = w.vec_id)) q0) q1
            WHERE q1.rn = 1),
    lasg1 AS (SELECT vec_id, embedding, cell FROM as1c
              UNION ALL SELECT vec_id, embedding, cell FROM fb1)"""

  private val lshKmeansCtes = s"""$lshAssign1Ctes,
    lcent AS (SELECT cell, $meanExprs AS ce FROM lasg1 GROUP BY cell),
    cb2 AS (${(0 until T).map(t =>
      s"SELECT cell, ce, $t AS t, ${bandSqlOf("ce", t, DB)} AS bkt FROM lcent")
      .mkString("\n      UNION ALL ")}),
    ca2 AS (SELECT p.vec_id, c.cell, $cosCentSql AS ac
            FROM vp p JOIN cb2 c ON p.t = c.t AND p.bkt = c.bkt),
    as2c AS (SELECT vec_id, cell FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY ac DESC, cell) AS rn FROM ca2)
             WHERE rn = 1),
    fb2 AS (SELECT vec_id, cell FROM
             (SELECT p.vec_id, c.cell,
                row_number() OVER (PARTITION BY p.vec_id
                                   ORDER BY $cosCentSql DESC, c.cell) AS rn
              FROM v p CROSS JOIN lcent c
              WHERE NOT EXISTS (SELECT 1 FROM as2c x WHERE x.vec_id = p.vec_id)) q
            WHERE q.rn = 1),
    lasg2 AS (SELECT vec_id, cell FROM as2c
              UNION ALL SELECT vec_id, cell FROM fb2)"""

  /** d16: SemDeDup over LSH-assigned k-means cells — the SHIPPED
    * linear form of d13 for the k ∝ |corpus| sizing (d11 : d5 ::
    * d16 : d13). Identical within-cell pair-mine/verify/drop; only
    * the Lloyd ASSIGNMENT swaps the |corpus|·k brute argmax for
    * band-blocked candidate centroids + exact brute fallback. The
    * Spark side sizes `bits` from the seed count with the LSH_BITS
    * rule (one cheap count action — a production caller reads its
    * corpus size from catalog stats instead); the rule yields 2 at
    * the correctness gate's SF, which the oracle pins. */
  val d16 = Q("d16_semdedup_lsh", Some(s"""
    WITH $normCte,
    $lshKmeansCtes,
    av AS (SELECT v.vec_id, v.embedding, v.nrm, lasg2.cell
           FROM v JOIN lasg2 USING (vec_id)),
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, ${cosRSql("a", "b")} AS c6
          FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    dups AS (SELECT DISTINCT v2 FROM p WHERE c6 >= 0.35)
    SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs
    FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM dups WHERE v2 = e.vec_id)
    GROUP BY label ORDER BY label""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val k = vecs.filter(col("vec_id") % 125 === 0).count()
    Similarity.semDedupLsh(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, 0.35, Similarity.corpusBits(k, 4))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label")
  }

  /** d11: the LINEAR-scale variant of d5 — near-dup pair mining with
    * candidates from the multi-table sign-LSH bands instead of a
    * fixed-cardinality label block (SURVEY §6 measured d5 at r=13.9
    * under 10× scale-up; bucket-blocked candidates grow linearly).
    * Oracle rebuilds the identical band buckets from the shared
    * plane-dim constants, so candidate sets — and therefore results —
    * match exactly despite LSH being approximate. */
  val d11 = Q("d11_embed_neardup_lsh", Some(s"""
    WITH $normCte,
    cb AS ($corpusBandsSql),
    cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
             FROM cb a JOIN cb b ON a.t = b.t AND a.bkt = b.bkt
               AND a.vec_id < b.vec_id),
    p AS (SELECT c.v1, c.v2, ${cosRSql("a", "b")} AS c6
          FROM cand c JOIN v a ON a.vec_id = c.v1
                      JOIN v b ON b.vec_id = c.v2)
    SELECT v1, v2, c6 AS cos6 FROM p
    WHERE c6 >= 0.2 ORDER BY v1, v2""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding", 0.2,
      bits = Similarity.corpusBits(vecs.count()))
      .orderBy("v1", "v2")
  }

  /** s6: IVF-PQ with the LSH-banded coarse quantizer
    * ([[Similarity.ivfPqKnnLsh]]) — the fully linear composition: the
    * trained fixed-K codebook made encode linear (s5), this makes the
    * cell ASSIGNMENT linear too (band-blocked candidate anchors +
    * exact fallback — the d16 machinery as a single pass). The oracle
    * reuses the shared pass-1 assignment CTEs and the shared PQ tail
    * verbatim, so only the quantizer differs from s5 — by
    * construction, not by reimplementation. */
  val s6 = Q("s6_knn_pq_lsh", Some(s"""
    WITH $normCte,
    $lshAssign1Ctes,
    asg AS (SELECT vec_id, embedding, cell FROM lasg1),
    $pqTrainCtes,
    $pqTailSql
    SELECT probe_id, rn, neighbor_id, est6
    FROM r WHERE rn <= 5 ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val k = vecs.filter(col("vec_id") % 125 === 0).count()
    Similarity.ivfPqKnnLsh(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5,
      Similarity.corpusBits(k, 4))
      .orderBy("probe_id", "rn")
  }

  /** s8: multi-probe IVF on the LSH-banded coarse quantizer
    * ([[Similarity.ivfKnnLsh]]) — the recall knob (s7's nprobe)
    * composed onto the LINEAR assignment path (s6's banded argmax):
    * the production IVF shape. Corpus vectors are cell-assigned by
    * the shared band machinery (lasg1, verbatim from d16/s6); each
    * probe searches the top-2 cells of its banded CANDIDATE anchor
    * set (cosine rank, cell tie-break), falling back to the exact
    * brute top-2 when it shares no band with any anchor. Anchors keep
    * the k ∝ corpus sizing (constant cell occupancy — the thing the
    * fixed-K teaching forms give up), yet every stage stays
    * O(n log n) because candidates per vector are pinned by the
    * corpusBits occupancy rule. */
  // the top-nprobe probe-cell CTEs (banded candidates grouped to
  // (probe, cell) max cosine, ranked ac DESC / cell, brute fallback
  // for probes sharing no band with any seed; ends at
  // prall = (probe_id, cell)) — mirrors Similarity.probeCells.
  // Factored so s8 (raw-vector multi-probe) and s14 (ADC multi-probe
  // nomination) rank candidate cells from the IDENTICAL SQL.
  private val probeCellsCtes = s"""
    prc AS (SELECT p.vec_id AS probe_id, c.cell,
              max(floor((list_sum(list_transform(range(1, 65),
                       i -> p.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) /
                     (p.nrm * c.cnrm)) * 1000000.0 + 0.5) / 1000000.0) AS ac
            FROM vp p JOIN cb1 c ON p.t = c.t AND p.bkt = c.bkt
            WHERE p.vec_id % 17 = 0
            GROUP BY p.vec_id, c.cell),
    prn AS (SELECT probe_id, cell FROM
             (SELECT *, row_number() OVER (PARTITION BY probe_id
                          ORDER BY ac DESC, cell) AS rn FROM prc) q
            WHERE q.rn <= 2),
    prfb AS (SELECT probe_id, cell FROM
              (SELECT w.vec_id AS probe_id, s.cell,
                 row_number() OVER (PARTITION BY w.vec_id
                   ORDER BY floor((list_sum(list_transform(range(1, 65),
                              i -> w.embedding[i]::DOUBLE * s.ce[i]::DOUBLE)) /
                            (w.nrm * s.cnrm)) * 1000000.0 + 0.5) / 1000000.0 DESC,
                     s.cell) AS rn
               FROM v w CROSS JOIN seeds s
               WHERE w.vec_id % 17 = 0
                 AND NOT EXISTS (SELECT 1 FROM prc x WHERE x.probe_id = w.vec_id)) q
             WHERE q.rn <= 2),
    prall AS (SELECT * FROM prn UNION ALL SELECT * FROM prfb)"""

  // s8's oracle, factored so the persisted-index probe (s11) can pin
  // against the IDENTICAL SQL — the index path must be bit-for-bit
  // the inline composition, so they share one oracle by construction
  // parameterized on a CANDIDATE filter (empty for the full corpus):
  // s24 restricts the indexed side only — anchors, cells, and probes
  // stay those of the FULL corpus, exactly the soft-delete semantics
  // (a tombstone hides a vector as a RESULT; the trained geometry is
  // untouched until a fold)
  private def s8OracleSqlCand(candFilter: String) = s"""
    WITH $normCte,
    $lshAssign1Ctes,
    $probeCellsCtes,
    sc AS (SELECT p.probe_id, g.vec_id AS neighbor_id,
             floor((list_sum(list_transform(range(1, 65),
                      i -> pv.embedding[i]::DOUBLE * g.embedding[i]::DOUBLE)) /
                    (pv.nrm * bn.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS c6
           FROM prall p JOIN v pv ON pv.vec_id = p.probe_id
                        JOIN lasg1 g ON g.cell = p.cell
                          AND g.vec_id <> p.probe_id$candFilter
                        JOIN v bn ON bn.vec_id = g.vec_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn"""

  private val s8OracleSql = s8OracleSqlCand("")

  val s8 = Q("s8_knn_ivf_mp_lsh", Some(s8OracleSql)) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val k = vecs.filter(col("vec_id") % 125 === 0).count()
    Similarity.ivfKnnLsh(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5, nprobe = 2,
      bits = Similarity.corpusBits(k, 4))
      .orderBy("probe_id", "rn")
  }

  /** d22: SEMANTIC eval-set decontamination
    * ([[Similarity.semContaminatedIds]]) — t6's embedding-space twin:
    * the eval set is every 17th vector, and any TRAINING vector
    * within 0.35 cosine of an eval vector (candidates from the
    * shared sign-LSH bands, eval side broadcast) is dropped as
    * paraphrase-level leakage; survivors counted per label. Catches
    * what lexical decontamination cannot: a reworded eval document
    * shares no shingles but keeps its embedding neighborhood. */
  val d22 = Q("d22_sem_decontam", Some(s"""
    WITH $normCte,
    cb AS ($corpusBandsSql),
    ev AS (SELECT vec_id, t, bkt FROM cb WHERE vec_id % 17 = 0),
    tr0 AS (SELECT vec_id, t, bkt FROM cb WHERE vec_id % 17 <> 0),
    tr AS (SELECT vec_id, t, bkt FROM tr0
           UNION ALL
           SELECT vec_id, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM tr0 CROSS JOIN (VALUES $flipValuesSql) fl(f)),
    cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS ev_id
             FROM tr a JOIN ev b ON a.t = b.t AND a.bkt = b.bkt),
    cont AS (SELECT DISTINCT c.vec_id FROM cand c
               JOIN v a ON a.vec_id = c.vec_id
               JOIN v b ON b.vec_id = c.ev_id
             WHERE ${cosRSql("a", "b")} >= 0.35)
    SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs
    FROM embeddings e
    WHERE e.vec_id % 17 <> 0
      AND NOT EXISTS (SELECT 1 FROM cont WHERE cont.vec_id = e.vec_id)
    GROUP BY label ORDER BY label""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val evalVecs = vecs.filter(col("vec_id") % 17 === 0)
    val train = vecs.filter(col("vec_id") % 17 =!= 0)
    val cont = Similarity.semContaminatedIds(train, evalVecs,
      "vec_id", "embedding", 0.35, Similarity.corpusBits(vecs.count()))
    train.join(cont, Seq("vec_id"), "left_anti")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label")
  }

  // FILTERED-ANN band constants: bits sized on the LARGEST label
  // partition (the per-part occupancy rule — the Spark query computes
  // the same from a groupBy count; the gate SF's largest label holds
  // 59 vectors → bits = 3)
  private val CBF = Similarity.corpusBits(59)
  private val corpusBandsLblSql = (0 until T)
    .map(t => s"SELECT vec_id, label, embedding, nrm, $t AS t, ${bandSqlOf("embedding", t, CBF)} AS bkt FROM v")
    .mkString("\n      UNION ALL ")
  private val flipValuesLblSql = (0 until CBF).map(i => s"(${1 << i})").mkString(",")

  /** s9: FILTERED ANN ([[Similarity.lshKnnFiltered]]) — label-
    * constrained top-k: each probe retrieves only among vectors with
    * ITS label, the filter folded into the band join key (per-part
    * buckets), not post-filtered. The oracle rebuilds the same
    * per-label bands at the bits value the occupancy rule yields for
    * the gate SF's largest label. */
  val s9 = Q("s9_knn_filtered", Some(s"""
    WITH $normCte,
    cb AS ($corpusBandsLblSql),
    pb0 AS (SELECT vec_id, label, t, bkt FROM cb WHERE vec_id % 17 = 0),
    pb AS (SELECT vec_id, label, t, bkt FROM pb0
           UNION ALL
           SELECT vec_id, label, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM pb0 CROSS JOIN (VALUES $flipValuesLblSql) fl(f)),
    cand AS (SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
             FROM pb a JOIN cb b ON a.label = b.label AND a.t = b.t
               AND a.bkt = b.bkt AND b.vec_id <> a.vec_id),
    sc AS (SELECT c.probe_id, c.neighbor_id, ${cosRSql("a", "b")} AS c6
           FROM cand c JOIN v a ON a.vec_id = c.probe_id
                       JOIN v b ON b.vec_id = c.neighbor_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val maxPart = vecs.groupBy("label").count()
      .agg(max("count")).head().getLong(0)
    Similarity.lshKnnFiltered(vecs, "vec_id", "embedding", "label",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(maxPart))
      .orderBy("probe_id", "rn")
  }

  /** two-stage retrieval ([[Similarity.pqRerank]]) — s6's compressed
    * ADC index nominates 4·k candidates, their RAW vectors are
    * re-fetched by an id equi-join and re-scored with the exact
    * cosine, final top-k ranks on the exact score (the FAISS/ScaNN
    * refine stage). Oracle = s6's full CTE chain widened to rn ≤ 20
    * plus the exact re-score — candidate generation shared verbatim,
    * so the two stages can't drift. */
  // s10's oracle, factored for the same reason as s8's: the
  // persisted-index rerank (s12) is pinned against the identical SQL
  private val s10OracleSql = s"""
    WITH $normCte,
    $lshAssign1Ctes,
    asg AS (SELECT vec_id, embedding, cell FROM lasg1),
    $pqTrainCtes,
    $pqTailSql,
    cnd AS (SELECT probe_id, neighbor_id FROM r WHERE rn <= 20),
    ex AS (SELECT c.probe_id, c.neighbor_id, ${cosRSql("a", "b")} AS c6
           FROM cnd c JOIN v a ON a.vec_id = c.probe_id
                      JOIN v b ON b.vec_id = c.neighbor_id),
    rr AS (SELECT probe_id, neighbor_id, c6,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY c6 DESC, neighbor_id) AS rn
           FROM ex)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM rr WHERE rn <= 5 ORDER BY probe_id, rn"""

  val s10 = Q("s10_knn_rerank", Some(s10OracleSql)) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val k = vecs.filter(col("vec_id") % 125 === 0).count()
    Similarity.pqRerank(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5,
      Similarity.corpusBits(k, 4))
      .orderBy("probe_id", "rn")
  }

  // ---- s11/s12: the PERSISTED index lifecycle (build once, probe
  // many — graft.operators.VectorIndex). The index for a corpus
  // directory is built ON FIRST USE into a content-stamped location
  // and REUSED by every later probe in any session: Verify/Bench
  // warmups pay the build, the timed/checked passes measure the
  // probe-only serving path — exactly the amortization a deployed
  // vector store gets (the bench artifact's s11/s12 lines vs s8/s10
  // are the measured build-vs-serve gap). [[graft.Fixture.stamped]]
  // stamps it on the corpus listing, so a regenerated corpus rebuilds
  // instead of serving a stale index. Returns (dir, meta): serving
  // queries thread the meta row through instead of paying a meta
  // scan+head job per probe.
  private[graft] def ensureIndex(s: SparkSession, d: String)
      : (String, graft.operators.VectorIndex.Meta) = {
    val stamp = Fixture.stamp(s, d, "embeddings")
    // SQ8 (s18) is built with the rest, so the published index is
    // never mutated in place and every copy of it carries `sq8`
    val dir = Fixture.stamped("vindex", stamp,
        Fixture.has(_, "meta/_SUCCESS", "sq8quant")) { build =>
      graft.operators.VectorIndex.write(t(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 125 === 0, build.getPath,
        stamp = stamp)
      graft.operators.VectorIndex.writeSq8(s, build.getPath)
    }
    (dir, graft.operators.VectorIndex.readMeta(s, dir))
  }

  /** s11: multi-probe IVF served FROM THE PERSISTED INDEX — zero
    * training stages in the probe plan (IndexSpec pins the plan reads
    * only index tables); results ≡ inline s8 bit-for-bit, so the
    * oracle IS s8's SQL. */
  val s11 = Q("s11_index_probe", Some(s8OracleSql)) { (s, d) =>
    val (dir, mt) = ensureIndex(s, d)
    graft.operators.VectorIndex.probe(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5, nprobe = 2,
      meta = Some(mt))
      .orderBy("probe_id", "rn")
  }

  /** s12: two-stage refine served from the persisted index — the
    * production serving read (compressed-code nomination + exact
    * re-rank, both over stored tables); ≡ inline s10 bit-for-bit. */
  val s12 = Q("s12_index_rerank", Some(s10OracleSql)) { (s, d) =>
    val (dir, mt) = ensureIndex(s, d)
    graft.operators.VectorIndex.probeRerank(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5,
      meta = Some(mt))
      .orderBy("probe_id", "rn")
  }

  /** s13: RECIPROCAL-RANK FUSION ([[Similarity.rrfFuse]]) — ensemble
    * retrieval over the two shipped ANN families: s2's banded
    * high-recall list and s8's IVF multi-probe list fuse per probe at
    * 1/(60+rank) in exact integer micros, re-ranked on the fused
    * score — the score-free merge every hybrid/multi-index search
    * runs (incomparable scores, comparable RANKS). Oracle composes
    * s2's and s8's full SQL verbatim as subqueries, so the fusion is
    * hash-checked on top of two already-hash-checked rankings. */
  val s13 = Q("s13_rrf_fusion", Some(s"""
    WITH la AS (SELECT * FROM ($s2OracleSql)),
    lb AS (SELECT * FROM ($s8OracleSql)),
    u AS (SELECT probe_id, neighbor_id, 1000000 // (60 + rn) AS cst FROM la
          UNION ALL
          SELECT probe_id, neighbor_id, 1000000 // (60 + rn) AS cst FROM lb),
    f AS (SELECT probe_id, neighbor_id, CAST(sum(cst) AS BIGINT) AS rrf_micro
          FROM u GROUP BY probe_id, neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY rrf_micro DESC, neighbor_id) AS rn FROM f)
    SELECT probe_id, rn, neighbor_id, rrf_micro
    FROM r WHERE rn <= 5 ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    // both sizing counts in ONE scan job (they are independent 1-row
    // aggregates; the filtered anchor count needs a scan anyway, so
    // the fused form costs the same pass the old kA count already paid
    // and drops the separate corpus-count job)
    val szs = vecs.agg(count(lit(1)),
      count(when(col("vec_id") % 125 === 0, 1))).head()
    val (nAll, kA) = (szs.getLong(0), szs.getLong(1))
    val la = Similarity.lshKnn(vecs, "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(nAll))
    val lb = Similarity.ivfKnnLsh(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5, nprobe = 2,
      bits = Similarity.corpusBits(kA, 4))
    Similarity.rrfFuse(Seq(
        la.select("probe_id", "rn", "neighbor_id"),
        lb.select("probe_id", "rn", "neighbor_id")), 5)
      .orderBy("probe_id", "rn")
  }

  // s14's oracle: s10's refine tail over a MULTI-PROBE nomination
  // stage — the codes CTEs verbatim (pqCodesCtes), the probe cells
  // from s8's top-nprobe ranking verbatim (probeCellsCtes), the ADC
  // LUT scored against every candidate cell, then the exact re-rank.
  // Factored SQL means the composition is checked, never re-derived.
  private val s14OracleSql = s"""
    WITH $normCte,
    $lshAssign1Ctes,
    asg AS (SELECT vec_id, embedding, cell FROM lasg1),
    $pqTrainCtes,
    $pqCodesCtes,
    $probeCellsCtes,
    prx AS (SELECT pa.probe_id, w.embedding AS pe, pa.cell AS pcell
            FROM prall pa JOIN v w ON w.vec_id = pa.probe_id),
    plut AS (SELECT p.probe_id, p.pcell, c.m, c.k,
               ${cwDot("p.pe")} AS lutS
             FROM prx p CROSS JOIN cw c),
    est AS (SELECT l.probe_id, k.vec_id AS neighbor_id,
              CAST(sum(l.lutS) AS DOUBLE) / 1000000.0 AS est6
            FROM codes k JOIN plut l ON l.m = k.m AND l.k = k.code
              AND l.pcell = k.cell
            WHERE k.vec_id <> l.probe_id
            GROUP BY l.probe_id, k.vec_id),
    r AS (SELECT probe_id, neighbor_id, est6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY est6 DESC, neighbor_id) AS rn FROM est),
    cnd AS (SELECT probe_id, neighbor_id FROM r WHERE rn <= 20),
    ex AS (SELECT c.probe_id, c.neighbor_id, ${cosRSql("a", "b")} AS c6
           FROM cnd c JOIN v a ON a.vec_id = c.probe_id
                      JOIN v b ON b.vec_id = c.neighbor_id),
    rr AS (SELECT probe_id, neighbor_id, c6,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY c6 DESC, neighbor_id) AS rn
           FROM ex)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM rr WHERE rn <= 5 ORDER BY probe_id, rn"""

  /** s14: REFINE × NPROBE ([[Similarity.pqRerank]] at nprobe = 2) —
    * the production serving composition the §6 recall harness
    * concluded with: the compressed ADC index nominates candidates
    * from each probe's top-2 cells (nprobe fixes CANDIDATE loss — a
    * true neighbor quantized into the second-closest cell), and the
    * exact re-rank scores only those candidates' raw vectors (refine
    * fixes ORDERING loss — ADC quantization demoting a candidate).
    * s10 is refine@np1, s8 is nprobe-without-refine; this is both. */
  val s14 = Q("s14_knn_rerank_np", Some(s14OracleSql)) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val k = vecs.filter(col("vec_id") % 125 === 0).count()
    Similarity.pqRerank(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5,
      Similarity.corpusBits(k, 4), nprobe = 2)
      .orderBy("probe_id", "rn")
  }

  /** s15: refine × nprobe SERVED from the persisted index
    * ([[graft.operators.VectorIndex.probeRerank]] at nprobe = 2) —
    * ≡ inline s14 bit-for-bit (IndexSpec pins it), so the oracle IS
    * s14's SQL; the probe plan stays training-free. */
  val s15 = Q("s15_index_rerank_np", Some(s14OracleSql)) { (s, d) =>
    val (dir, mt) = ensureIndex(s, d)
    graft.operators.VectorIndex.probeRerank(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5,
      nprobe = 2, meta = Some(mt))
      .orderBy("probe_id", "rn")
  }

  // weighted-RRF weights: each retriever's VALIDATED recall@5 at sf1
  // (recall_out.jsonl — s2 banded 0.987, s8 multi-probe@2 0.323) in
  // exact micro-integers. The fix for s13's measured dilution: the
  // equal-weight fusion read 0.691 where s2 alone read 0.987 because
  // the weak list outvoted the strong one; weighting by validated
  // recall makes a strong list's rank-5 outscore a weak list's
  // rank-1 (987000/65 > 323000/61), so fused top-k keeps the
  // dominant list's members while still letting agreement reorder.
  private val W_S2 = 987000L
  private val W_S8 = 323000L

  /** s16: WEIGHTED reciprocal-rank fusion ([[Similarity.rrfFuse]]
    * with per-list micro weights) — s13's operator with the
    * documented production guidance ("weight by validated
    * per-retriever recall") shipped as code. Same exact-integer
    * arithmetic; equal weights reproduce s13 bit-for-bit (spec'd). */
  val s16 = Q("s16_rrf_weighted", Some(s"""
    WITH la AS (SELECT * FROM ($s2OracleSql)),
    lb AS (SELECT * FROM ($s8OracleSql)),
    u AS (SELECT probe_id, neighbor_id, $W_S2 // (60 + rn) AS cst FROM la
          UNION ALL
          SELECT probe_id, neighbor_id, $W_S8 // (60 + rn) AS cst FROM lb),
    f AS (SELECT probe_id, neighbor_id, CAST(sum(cst) AS BIGINT) AS rrf_micro
          FROM u GROUP BY probe_id, neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY rrf_micro DESC, neighbor_id) AS rn FROM f)
    SELECT probe_id, rn, neighbor_id, rrf_micro
    FROM r WHERE rn <= 5 ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    // both sizing counts in ONE scan job (they are independent 1-row
    // aggregates; the filtered anchor count needs a scan anyway, so
    // the fused form costs the same pass the old kA count already paid
    // and drops the separate corpus-count job)
    val szs = vecs.agg(count(lit(1)),
      count(when(col("vec_id") % 125 === 0, 1))).head()
    val (nAll, kA) = (szs.getLong(0), szs.getLong(1))
    val la = Similarity.lshKnn(vecs, "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(nAll))
    val lb = Similarity.ivfKnnLsh(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, col("vec_id") % 17 === 0, 5, nprobe = 2,
      bits = Similarity.corpusBits(kA, 4))
    Similarity.rrfFuse(Seq(
        la.select("probe_id", "rn", "neighbor_id"),
        lb.select("probe_id", "rn", "neighbor_id")), 5,
        weightsMicro = Seq(W_S2, W_S8))
      .orderBy("probe_id", "rn")
  }

  /** s17: SQ8 scalar-quantized ANN ([[Similarity.sq8Knn]]) — s2's
    * banded candidate structure with the scored corpus cut to ONE
    * SIGNED BYTE per dimension: a per-dim min/max affine quantizer
    * (one scalar-aggregate read, shipped as constant-folded
    * literals), codes dequantized on the fly inside the fused
    * [[graft.functions.Sq8Cosine]] codegen loop. The memory trade
    * FAISS ships as `SQ8`: 4× below the float corpus where s5's PQ
    * is 32× but needs a trained codebook — SQ8 is the
    * training-free middle rung. The oracle re-derives the
    * quantizer, codes, and dequantized cosines in SQL; ranking
    * differences vs exact cosine are quantization error only
    * (recall-measured). */
  private def s17OracleSqlK(k: Int): String = s"""
    WITH $normCte,
    dims AS (SELECT i, min(embedding[i]::DOUBLE) AS mn,
               max(embedding[i]::DOUBLE) AS mx
             FROM v CROSS JOIN range(1, 65) t(i) GROUP BY i),
    st AS (SELECT list(mn ORDER BY i) AS mn,
             list(mx ORDER BY i) AS mx,
             list((mx - mn) / 255.0 ORDER BY i) AS s FROM dims),
    vq AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN st.mx[i] > st.mn[i]
               THEN floor((embedding[i]::DOUBLE - st.mn[i]) /
                          (st.mx[i] - st.mn[i]) * 255.0 + 0.5)
               ELSE 0 END) AS q
           FROM v CROSS JOIN st),
    cb AS ($corpusBandsSql),
    pb0 AS (SELECT vec_id, t, bkt FROM cb WHERE vec_id % 17 = 0),
    pb AS (SELECT vec_id, t, bkt FROM pb0
           UNION ALL
           SELECT vec_id, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM pb0 CROSS JOIN (VALUES $flipValuesSql) fl(f)),
    cand AS (SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
             FROM pb a JOIN cb b ON a.t = b.t AND a.bkt = b.bkt
               AND b.vec_id <> a.vec_id),
    sc AS (SELECT c.probe_id, c.neighbor_id,
             floor((list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qa.q[i] * st.s[i]) * (st.mn[i] + qb.q[i] * st.s[i]))) /
               (sqrt(list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qa.q[i] * st.s[i]) * (st.mn[i] + qa.q[i] * st.s[i])))) *
                sqrt(list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qb.q[i] * st.s[i]) * (st.mn[i] + qb.q[i] * st.s[i]))))))
               * 1000000.0 + 0.5) / 1000000.0 AS c6
           FROM cand c JOIN vq qa ON qa.vec_id = c.probe_id
                       JOIN vq qb ON qb.vec_id = c.neighbor_id
                       CROSS JOIN st),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= $k
    ORDER BY probe_id, rn"""

  private val s17OracleSql = s17OracleSqlK(5)

  val s17 = Q("s17_knn_sq8", Some(s17OracleSql)) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    Similarity.sq8Knn(vecs, "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(vecs.count()))
      .orderBy("probe_id", "rn")
  }

  /** s18: SQ8 served FROM THE PERSISTED INDEX
    * ([[graft.operators.VectorIndex.probeSq8]]) — the byte-code band
    * table and frozen quantizer are lake tables; the probe plan fits
    * NOTHING (zero quantizer aggregates, zero corpus banding — the
    * only corpus-sized input is the stored `sq8` table, which holds
    * no floats at all). Results ≡ inline s17 bit-for-bit, so the
    * oracle IS s17's SQL. */
  val s18 = Q("s18_index_sq8", Some(s17OracleSql)) { (s, d) =>
    val (dir, mt) = ensureIndex(s, d)
    graft.operators.VectorIndex.probeSq8(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5,
      meta = Some(mt))
      .orderBy("probe_id", "rn")
  }

  /** s19: SQ8 nominate + EXACT refine ([[Similarity.sq8Rerank]]) —
    * the standard scalar-quantizer serving composition: byte codes
    * nominate 4k candidates, only those refetch their float vectors
    * for the exact fused-cosine rerank. The oracle composes s17's
    * full SQL at k=20 as the nomination subquery (the s13 precedent:
    * fusion over already-hash-checked rankings) and rescores with
    * the exact cosine CTE — quantization ordering error provably
    * absent from the final ranking. */
  val s19 = Q("s19_sq8_rerank", Some(s"""
    WITH $normCte,
    nom AS (SELECT probe_id, neighbor_id FROM (${s17OracleSqlK(20)})),
    sc AS (SELECT nom.probe_id, nom.neighbor_id, ${cosRSql("a", "b")} AS c6
           FROM nom JOIN v a ON a.vec_id = nom.probe_id
                    JOIN v b ON b.vec_id = nom.neighbor_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    Similarity.sq8Rerank(vecs, "vec_id", "embedding",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(vecs.count()))
      .orderBy("probe_id", "rn")
  }

  /** s20: FILTERED SQ8 ANN ([[Similarity.sq8KnnFiltered]]) — the
    * serving matrix's remaining cell, s9 × s17: the filter attribute
    * IN the band key (per-(label, t, bkt) buckets keep the full
    * candidate budget inside the filter — post-filtering a quantized
    * list would compound BOTH losses) with candidates scored on
    * 64-byte SQ8 codes instead of floats. The oracle composes the
    * two already-hash-checked constructions verbatim: s9's
    * label-banded candidate CTEs over s17's quantizer/dequantized
    * cosine — so the composition itself is what the hash check
    * proves. */
  val s20 = Q("s20_sq8_filtered", Some(s"""
    WITH $normCte,
    dims AS (SELECT i, min(embedding[i]::DOUBLE) AS mn,
               max(embedding[i]::DOUBLE) AS mx
             FROM v CROSS JOIN range(1, 65) t(i) GROUP BY i),
    st AS (SELECT list(mn ORDER BY i) AS mn,
             list(mx ORDER BY i) AS mx,
             list((mx - mn) / 255.0 ORDER BY i) AS s FROM dims),
    vq AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN st.mx[i] > st.mn[i]
               THEN floor((embedding[i]::DOUBLE - st.mn[i]) /
                          (st.mx[i] - st.mn[i]) * 255.0 + 0.5)
               ELSE 0 END) AS q
           FROM v CROSS JOIN st),
    cb AS ($corpusBandsLblSql),
    pb0 AS (SELECT vec_id, label, t, bkt FROM cb WHERE vec_id % 17 = 0),
    pb AS (SELECT vec_id, label, t, bkt FROM pb0
           UNION ALL
           SELECT vec_id, label, t,
             CASE WHEN (bkt // f) % 2 = 1 THEN bkt - f ELSE bkt + f END AS bkt
           FROM pb0 CROSS JOIN (VALUES $flipValuesLblSql) fl(f)),
    cand AS (SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
             FROM pb a JOIN cb b ON a.label = b.label AND a.t = b.t
               AND a.bkt = b.bkt AND b.vec_id <> a.vec_id),
    sc AS (SELECT c.probe_id, c.neighbor_id,
             floor((list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qa.q[i] * st.s[i]) * (st.mn[i] + qb.q[i] * st.s[i]))) /
               (sqrt(list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qa.q[i] * st.s[i]) * (st.mn[i] + qa.q[i] * st.s[i])))) *
                sqrt(list_sum(list_transform(range(1, 65), i ->
                 (st.mn[i] + qb.q[i] * st.s[i]) * (st.mn[i] + qb.q[i] * st.s[i]))))))
               * 1000000.0 + 0.5) / 1000000.0 AS c6
           FROM cand c JOIN vq qa ON qa.vec_id = c.probe_id
                       JOIN vq qb ON qb.vec_id = c.neighbor_id
                       CROSS JOIN st),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val maxPart = vecs.groupBy("label").count()
      .agg(max("count")).head().getLong(0)
    Similarity.sq8KnnFiltered(vecs, "vec_id", "embedding", "label",
      col("vec_id") % 17 === 0, 5,
      bits = Similarity.corpusBits(maxPart))
      .orderBy("probe_id", "rn")
  }

  // s21's vector half: s14's full refine×nprobe SQL with the probe
  // set re-pinned to the single query id — the ONLY occurrences of
  // the probe predicate in that composition are probeCellsCtes' two
  // WHERE clauses (corpus-side filters use % 125), so the textual
  // re-pin IS "the same composition, probe set {1}"
  private val s14Probe1Sql = {
    val repinned = s14OracleSql.replace("% 17 = 0", "= 1")
    require(repinned != s14OracleSql &&
      !repinned.contains("% 17 = 0"), "probe re-pin must rewrite")
    repinned
  }

  /** s21: HYBRID SEARCH SERVED FROM BOTH PERSISTED INDEXES — the
    * retrieval stack's production composition, closing the loop the
    * two index lifecycles exist for: for query document 1, the
    * LEXICAL list comes from the inverted index
    * ([[graft.operators.TextIndex.moreLikeThis]] — t23's path, BM25
    * ≡ inline t20 bit-for-bit, zero corpus tokenization in the probe
    * plan) and the VECTOR list from the PQ index
    * ([[graft.operators.VectorIndex.probeRerank]] at nprobe = 2 —
    * s15's path, the refine×nprobe serving composition §6 concluded
    * with), and the two incomparably-scored rankings merge by
    * reciprocal RANK ([[Similarity.rrfFuse]], exact integer micros,
    * the Cormack c = 60 default; per-retriever weighting is s16's
    * already-shipped knob). The shared 0..n id space of
    * `documents`/`embeddings` is the doc↔vector correspondence every
    * real corpus carries. At 100 TB the fusion input is 2 k-row
    * LISTS — the corpus appears only inside the two index probes,
    * each already pinned corpus-scan-free/training-free by their
    * specs. Oracle composes t20's SQL and s14's probe-{1} SQL
    * verbatim under s13's fusion SQL — three hash-checked layers,
    * nothing re-derived. */
  val s21 = Q("s21_hybrid_index", Some(s"""
    WITH lex0 AS (SELECT * FROM (${Text.t20OracleSql})),
    lex AS (SELECT CAST(1 AS BIGINT) AS probe_id, doc_id AS neighbor_id,
              row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rn
            FROM lex0),
    vec AS (SELECT probe_id, neighbor_id, rn FROM ($s14Probe1Sql)),
    u AS (SELECT probe_id, neighbor_id, 1000000 // (60 + rn) AS cst FROM lex
          UNION ALL
          SELECT probe_id, neighbor_id, 1000000 // (60 + rn) AS cst FROM vec),
    f AS (SELECT probe_id, neighbor_id, CAST(sum(cst) AS BIGINT) AS rrf_micro
          FROM u GROUP BY probe_id, neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY rrf_micro DESC, neighbor_id) AS rn FROM f)
    SELECT probe_id, rn, neighbor_id, rrf_micro
    FROM r WHERE rn <= 10 ORDER BY probe_id, rn""")) { (s, d) =>
    val (dirV, mtV) = ensureIndex(s, d)
    val (dirT, mtT) = Text.ensureTextIndexMeta(s, d)
    val vec = graft.operators.VectorIndex.probeRerank(s, dirV,
      t(s, d, "embeddings").filter(col("vec_id") === 1), 5, nprobe = 2,
      meta = Some(mtV))
      .select(col("probe_id"), col("rn"), col("neighbor_id"))
    // rank the k-row BM25 list (the window's input is the LIMIT-k
    // index read — bounded by construction; PlanSpec whitelists it)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    val lex = graft.operators.TextIndex.moreLikeThis(s, dirT, 1L, 20,
      meta = Some(mtT))
      .select(lit(1L).as("probe_id"), row_number().over(w).as("rn"),
        col("doc_id").as("neighbor_id"))
    Similarity.rrfFuse(Seq(lex, vec), 10).orderBy("probe_id", "rn")
  }

  /** s22: SEMANTIC DECONTAMINATION — the embedding-space twin of the
    * n-gram eval-leak checks (t6's 3-gram overlap, d25's
    * bloom-blocked exact grams): a PARAPHRASED benchmark item shares
    * no 13-gram with its training-set leak, but their embeddings
    * cosine-collide — the leak n-gram decontamination provably
    * cannot see. Every (train, eval) pair above the cosine threshold
    * is mined with d11's machinery verbatim (multi-table sign-LSH
    * band candidates — linear in the corpus, never the \|train\|×\|eval\|
    * cross join — then exact fused cosine on candidates only),
    * restricted to CROSS pairs, and reported per train doc:
    * hit count + max similarity (the triage order a curation pass
    * reviews). The oracle rebuilds the identical band buckets from
    * the shared plane constants, so the approximate blocking is
    * hash-checked, not trusted. At 100 TB: bands are the only
    * corpus-sized artifact, the eval side is benchmark-sized, and
    * the verify join touches band-colliding pairs only. */
  val s22 = Q("s22_semantic_decontam", Some(s"""
    WITH $normCte,
    cb AS ($corpusBandsSql),
    cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
             FROM cb a JOIN cb b ON a.t = b.t AND a.bkt = b.bkt
               AND a.vec_id < b.vec_id),
    p AS (SELECT c.v1, c.v2, ${cosRSql("a", "b")} AS c6
          FROM cand c JOIN v a ON a.vec_id = c.v1
                      JOIN v b ON b.vec_id = c.v2),
    x AS (SELECT CASE WHEN v1 % 10 = 0 THEN v2 ELSE v1 END AS train_id,
            CASE WHEN v1 % 10 = 0 THEN v1 ELSE v2 END AS eval_id, c6
          FROM p
          WHERE c6 >= 0.2 AND ((v1 % 10 = 0) <> (v2 % 10 = 0)))
    SELECT train_id, count(*) AS n_eval_hits,
      max(c6) AS max_cos6
    FROM x GROUP BY train_id ORDER BY train_id""")) { (s, d) =>
    val vecs = t(s, d, "embeddings")
    val pairs = Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      0.2, bits = Similarity.corpusBits(vecs.count()))
    val isEval = (c: org.apache.spark.sql.Column) => c % 10 === 0
    pairs.filter(isEval(col("v1")) =!= isEval(col("v2")))
      .select(
        when(isEval(col("v1")), col("v2")).otherwise(col("v1")).as("train_id"),
        when(isEval(col("v1")), col("v1")).otherwise(col("v2")).as("eval_id"),
        col("cos6"))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos6")).as("max_cos6"))
      .orderBy("train_id")
  }

  /** s23: FILTERED ANN — metadata-filtered vector search, the
    * production shape (every real vector store serves "nearest
    * neighbors WHERE category = X"): the label predicate cuts the
    * indexed corpus BEFORE any distance is computed (PRE-filtered
    * search — top-k among the MATCHING vectors), composed with s7's
    * multi-probe IVF: assignment is a per-vector argmax against the
    * unfiltered anchors, so filtering before or after assignment
    * yields the same cells for the survivors, and filtering first
    * means excluded vectors never cost a distance — at 100 TB a 10%
    * filter is 10× less scoring work, not a post-hoc discard. The
    * naive alternative — POST-filtering an unfiltered top-k — loses
    * results whenever fewer than k of the winners match
    * (SimilarityNullSafetySpec pins the collapse and the fix);
    * nprobe=2 is the standard recall knob raised under selective
    * filters. Oracle = s7's CTEs with the corpus side restricted to
    * the label, hash-checked end to end. */
  val s23 = Q("s23_knn_filtered", Some(s"""
    WITH $normCte,
    $ivfCtes,
    asgf AS (SELECT a.vec_id, a.embedding, a.nrm, a.cell
             FROM asg a JOIN v ON v.vec_id = a.vec_id
             WHERE v.label = 1),
    pra AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm,
              anchor_id AS cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ac DESC, anchor_id) AS arn
            FROM asg0 WHERE vec_id % 17 = 0),
    pr AS (SELECT probe_id, pe, pnrm, cell FROM pra WHERE arn <= 2),
    sc AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
             floor((list_sum(list_transform(range(1, 65),
                      i -> p.pe[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
                    (p.pnrm * b.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS c6
           FROM pr p JOIN asgf b ON p.cell = b.cell
             AND b.vec_id <> p.probe_id),
    r AS (SELECT probe_id, neighbor_id, c6,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY c6 DESC, neighbor_id) AS rn FROM sc)
    SELECT probe_id, rn, neighbor_id, c6 AS cos6
    FROM r WHERE rn <= 5
    ORDER BY probe_id, rn""")) { (s, d) =>
    Similarity.ivfKnn(t(s, d, "embeddings"), "vec_id", "embedding",
      anchorPred, col("vec_id") % 17 === 0, 5, nprobe = 2,
      candPred = Some(col("label") === 1))
      .orderBy("probe_id", "rn")
  }

  // s24's fixture: a soft-deleted COPY of the shared persisted index
  // (the shared one must stay pristine for s11/s12/s15/s21) — copy
  // the built artifact, land one tombstone batch (the %19 slice,
  // O(|ids|) I/O — the corpus tables are byte-identical to the
  // source index's, pinned by the copy), serve from it
  private def ensureSoftDelIndex(s: SparkSession, d: String): String = {
    val (src, _) = ensureIndex(s, d)
    Fixture.stamped("vindexsd", Fixture.stamp(s, d, "embeddings"),
        Fixture.has(_, "meta/_SUCCESS", "sq8quant", "_deletes")) { build =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(src), build)
      graft.operators.VectorIndex.softDelete(s, build.getPath,
        s.read.parquet(s"${build.getPath}/assigned")
          .filter(col("vec_id") % 19 === 4).select("vec_id"))
    }
  }

  /** s24: ANN SERVING UNDER SOFT DELETES
    * ([[graft.operators.VectorIndex.softDelete]] — the lake's
    * merge-on-read tombstone contract applied to the index tier): a
    * GDPR-sized removal stream must not rewrite a corpus-sized index
    * per batch, so the id batch lands as an O(|ids|) tombstone file
    * and every probe applies the set as one broadcast anti-join
    * BEFORE its top-k — full k from the survivors, never a post-hoc
    * discard that loses result slots; delete/compact FOLD the
    * tombstones at the next maintenance window (IndexSpec pins
    * fold ≡ served view and the resurrect refusal). Oracle = s8's
    * SQL with ONLY the candidate side restricted: anchors, cells,
    * and probes stay the full corpus's — exactly what a tombstone
    * means (the vector stops being a RESULT; the trained geometry
    * is untouched until a fold). */
  val s24 = Q("s24_index_soft_delete",
      Some(s8OracleSqlCand(" AND NOT (g.vec_id % 19 = 4)"))) { (s, d) =>
    val dir = ensureSoftDelIndex(s, d)
    graft.operators.VectorIndex.probe(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5, nprobe = 2)
      .orderBy("probe_id", "rn")
  }

  /** s25: FILTERED ANN FROM THE PERSISTED INDEX (s23 × s11 — the
    * combination a production vector store actually serves: the
    * metadata predicate AND the build-once index): the caller's
    * filtered id set cuts the STORED candidate table before any
    * distance is computed (`candIds` on [[graft.operators
    * .VectorIndex.probe]]) — exact top-k among the matching vectors,
    * zero training stages in the plan, excluded vectors never cost a
    * score. The trained geometry (anchors, cells, banding bits) is
    * the unfiltered index's — which is why the oracle is s8's SQL
    * with ONLY the candidate side restricted to the label (same
    * parameterization s24 uses for tombstones: a filter hides
    * RESULTS, not geometry). */
  val s25 = Q("s25_index_filtered", Some(s8OracleSqlCand(
      " AND g.vec_id IN (SELECT vec_id FROM v WHERE label = 1)"))) { (s, d) =>
    val (dir, mt) = ensureIndex(s, d)
    graft.operators.VectorIndex.probe(s, dir,
      t(s, d, "embeddings").filter(col("vec_id") % 17 === 0), 5, nprobe = 2,
      candIds = Some(t(s, d, "embeddings")
        .filter(col("label") === 1).select("vec_id")),
      meta = Some(mt))
      .orderBy("probe_id", "rn")
  }

  val qs: Seq[Q] = Seq(d5, d11, d13, d16, d22, s1, s2, s3, s4, s5, s6,
    s7, s8, s9, s10, s11, s12, s13, s14, s15, s16, s17, s18, s19, s20,
    s21, s22, s23, s24, s25)
}
