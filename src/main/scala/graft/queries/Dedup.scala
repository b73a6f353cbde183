package graft.queries

import graft.{Fixture, Q, Tables}
import graft.operators.{Dedup => D}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 C — near-dup detection: MinHash+LSH, SimHash, n-gram
  * Jaccard. Oracle SQL is generated from the same K/BANDS constants
  * the Spark operators use, so the two can never drift. */
object Dedup {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // duckdb shingle CTE shared by d2/d4 (word 3-grams, 1-based lists)
  private val tokCte =
    "tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk FROM documents)"
  // concat_ws (not ||): out-of-range list indexes are NULL, which ||
  // would propagate but concat_ws skips — so a <3-token doc yields one
  // truncated shingle, matching the Spark native/SQL forms exactly
  private val shingleExpr =
    "list_transform(range(1, greatest(len(tk) - 1, 2)), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"

  // t2's stopword predicate — the ONE shared SQL text
  private val stopPredD = graft.operators.TextAnalysis.stopPredSql

  private val minExprs = (0 until D.K)
    .map(k => s"min(md5('$k:' || s)) AS h$k").mkString(", ")
  private val bandCase = (0 until D.BANDS).map { j =>
    val r = D.K / D.BANDS
    val parts = (0 until r).map(i => s"h${j * r + i}").mkString(" || '|' || ")
    s"WHEN $j THEN md5($parts)"
  }.mkString(" ")

  val d2 = Q("d2_dedup_minhash", Some(s"""
    WITH $tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS b
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j))
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_bands
    FROM bands a JOIN bands b ON a.j = b.j AND a.b = b.b AND a.doc_id < b.doc_id
    GROUP BY d1, d2 ORDER BY d1, d2""")) { (s, d) =>
    D.minhashCandidates(t(s, d, "documents"), "doc_id", "text")
      .orderBy("d1", "d2")
  }

  private val estExpr = (0 until D.K)
    .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END")
    .mkString(" + ")

  val d7 = Q("d7_minhash_est", Some(s"""
    WITH $tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS bb
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j)),
    cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             FROM bands x JOIN bands y ON x.j = y.j AND x.bb = y.bb
               AND x.doc_id < y.doc_id)
    SELECT d1, d2, ($estExpr) * 1.0 / ${D.K} AS est
    FROM cand JOIN mh a ON a.doc_id = d1 JOIN mh b ON b.doc_id = d2
    ORDER BY d1, d2""")) { (s, d) =>
    D.minhashEstimate(t(s, d, "documents"), "doc_id", "text")
      .orderBy("d1", "d2")
  }

  private val digitExprs = (0 until 8)
    .map(i => s"instr('0123456789abcdef', substr(md5(w), ${i + 1}, 1)) - 1 AS d$i")
    .mkString(", ")
  private val sumExprs = (0 until 32)
    .map(b => s"sum(((d${b / 4} // ${1 << (b % 4)}) % 2) * 2 - 1) AS s$b")
    .mkString(", ")
  private val sigExpr = (0 until 32)
    .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
    .mkString(" + ")

  val d3 = Q("d3_dedup_simhash", Some(s"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dg AS (SELECT doc_id, $digitExprs FROM tok),
    sm AS (SELECT doc_id, $sumExprs FROM dg GROUP BY doc_id)
    SELECT doc_id, CAST($sigExpr AS BIGINT) AS sig FROM sm ORDER BY doc_id""")) { (s, d) =>
    D.simhash(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  // 48-bit md5 shingle digests via the portable instr-fold — must
  // match Dedup.shingleHashes exactly
  private val hashFold = (1 to 12)
    .map(i => s"cast(instr('0123456789abcdef', substr(h, $i, 1)) - 1 as bigint) * cast(${math.pow(16, 12 - i).toLong} as bigint)")
    .mkString(" + ")
  private val hashedShingles =
    s"list_transform(list_transform($shingleExpr, s -> md5(s)), h -> $hashFold)"

  val d4 = Q("d4_ngram_jaccard", Some(s"""
    WITH $tokCte,
    base AS (SELECT doc_id, n_chars AS nc,
               list_distinct($hashedShingles) AS sh,
               CAST(floor(n_chars / 8) AS BIGINT) AS k FROM tok),
    rhs AS (SELECT doc_id AS d2, nc AS nc2, sh AS sh2,
              unnest([k - 1, k, k + 1]) AS k FROM base),
    pairs AS (SELECT a.doc_id AS d1, rhs.d2,
        floor((len(list_intersect(a.sh, rhs.sh2)) * 1.0 /
               len(list_distinct(list_concat(a.sh, rhs.sh2)))) * 10000.0 + 0.5) /
          10000.0 AS jr
      FROM base a JOIN rhs ON a.k = rhs.k AND a.doc_id < rhs.d2
        AND abs(a.nc - rhs.nc2) <= 8)
    SELECT d1, d2, jr AS jacc FROM pairs
    WHERE jr >= 0.5 ORDER BY d1, d2""")) { (s, d) =>
    D.ngramJaccard(t(s, d, "documents"), "doc_id", "text", "n_chars", 0.5)
      .orderBy("d1", "d2")
  }

  /** near-dup removal applied: candidates from d2's MinHash-LSH band
    * buckets (selective by SIMILARITY — bounded bucket occupancy on
    * real corpora, unlike length bands whose modal lengths explode
    * Σ|bucket|² at 100 TB), each candidate verified by exact Jaccard
    * over 48-bit shingle digests, then the greater id of every >=0.9
    * pair dropped and survivors counted per lang. (Full
    * connected-component clustering is an iterative job — out of
    * single-query scope; min-id dominance is the standard one-pass
    * approximation.) */
  val d6 = Q("d6_dedup_apply", Some(s"""
    WITH $tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS bb
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j)),
    cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             FROM bands x JOIN bands y ON x.j = y.j AND x.bb = y.bb
               AND x.doc_id < y.doc_id),
    base AS (SELECT doc_id, list_distinct($hashedShingles) AS shh FROM tok),
    pairs AS (SELECT c.d1, c.d2,
        floor((len(list_intersect(a.shh, b.shh)) * 1.0 /
               (len(a.shh) + len(b.shh) - len(list_intersect(a.shh, b.shh))))
          * 10000.0 + 0.5) / 10000.0 AS jr
      FROM cand c JOIN base a ON a.doc_id = c.d1
                  JOIN base b ON b.doc_id = c.d2),
    dups AS (SELECT DISTINCT d2 AS dup_id FROM pairs WHERE jr >= 0.9)
    SELECT lang, count(*) AS n_docs FROM documents
    WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dup_id = doc_id)
    GROUP BY lang ORDER BY lang""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    val docs = t(s, d, "documents")
    val dups = D.lshDuplicates(docs, "doc_id", "text", 0.9)
    docs.join(dups, col("doc_id") === col("dup_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** connected-component duplicate CLUSTERING — the fixpoint the
    * one-pass min-id dominance of d6 approximates: transitive near-dup
    * chains (A~B, B~C, A≁C) resolve to ONE survivor per component
    * (the min doc_id), not per pair. Spark side: [[D.verifiedPairs]]
    * (LSH band candidates + exact-Jaccard verify, the d6 pair set) →
    * [[D.connectedComponents]] iterative min-label propagation to
    * fixpoint. Oracle side: the same pair CTE + DuckDB
    * `WITH RECURSIVE` reachability, so the fixpoint itself is
    * hash-checked, not just the pair set. Output: one row per cluster
    * of size >= 2 — (survivor, n_members). */
  // minhash → bands → candidates → ≥0.9 exact-Jaccard verify →
  // undirected edges → recursive min-label closure (ends at
  // cc = (node, comp)) — shared by d9 (cluster census) and d18
  // (representative selection), so the cluster definition can't drift
  private val ccCtes = s"""$tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS bb
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j)),
    cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             FROM bands x JOIN bands y ON x.j = y.j AND x.bb = y.bb
               AND x.doc_id < y.doc_id),
    base AS (SELECT doc_id, list_distinct($hashedShingles) AS shh FROM tok),
    vp AS (SELECT c.d1, c.d2 FROM cand c
             JOIN base a ON a.doc_id = c.d1
             JOIN base b ON b.doc_id = c.d2
           WHERE floor((len(list_intersect(a.shh, b.shh)) * 1.0 /
                  (len(a.shh) + len(b.shh) - len(list_intersect(a.shh, b.shh))))
             * 10000.0 + 0.5) / 10000.0 >= 0.9),
    edges AS (SELECT d1 AS src, d2 AS dst FROM vp
              UNION SELECT d2, d1 FROM vp),
    reach AS (SELECT src AS node, src AS comp FROM edges
              UNION
              SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
    cc AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)"""

  val d9 = Q("d9_dedup_cc", Some(s"""
    WITH RECURSIVE $ccCtes
    SELECT comp AS survivor, count(*) AS n_members
    FROM cc GROUP BY comp ORDER BY survivor""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    val pairs = D.verifiedPairs(t(s, d, "documents"), "doc_id", "text", 0.9)
    D.connectedComponents(pairs, "d1", "d2")
      .groupBy(col("comp").as("survivor"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("survivor")
  }

  /** deterministic train/val/test split — the corpus-management twin
    * of dedup: assignment is a pure function of the stable key
    * (md5(doc_id) first byte mod 10 → 8/1/1), so any engine, any run,
    * any partitioning produces the SAME split; no sampling state, no
    * shuffle beyond the output aggregation. */
  val d8 = Q("d8_split", Some("""
    WITH a AS (SELECT lang, strlen(text) AS nbytes,
      ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 10 AS v
      FROM documents)
    SELECT CASE WHEN v <= 7 THEN 'train' WHEN v = 8 THEN 'val' ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM a GROUP BY split, lang ORDER BY split, lang""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    // the ONE shared fold definition (also used by Curation's split)
    val v = graft.operators.Sampling.md5Mod10(col("doc_id"))
    t(s, d, "documents")
      .select(col("lang"), octet_length(col("text")).as("nbytes"), v.as("v"))
      .select(when(col("v") <= 7, "train").when(col("v") === 8, "val")
        .otherwise("test").as("split"), col("lang"), col("nbytes"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("nbytes").as("sum_bytes"))
      .orderBy("split", "lang")
  }

  /** d29: deterministic TRAINING-SHARD audit
    * ([[graft.operators.Sampling.shardAssign]]) — the step between
    * curation and the data loader: every doc lands in one of 8
    * shards by key hash (corpus-independent — incremental ingest
    * appends, never reshuffles) with a seed-free 16-bit within-shard
    * order key from disjoint md5 nibbles (independent of the d8
    * split and the sampling hash by construction). The audit the
    * oracle checks: per-shard doc/byte balance plus an exact-integer
    * membership fingerprint (sum/min/max of the order hashes) —
    * pure partial aggregation, no per-shard collect, no window. */
  val d29 = Q("d29_shard", Some("""
    WITH h AS (SELECT doc_id, strlen(text) AS nbytes,
        md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
    a AS (SELECT doc_id, nbytes,
        ((instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16 +
          instr('0123456789abcdef', substr(hx, 6, 1)) - 1) % 8 AS shard,
        (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 4096 +
        (instr('0123456789abcdef', substr(hx, 8, 1)) - 1) * 256 +
        (instr('0123456789abcdef', substr(hx, 9, 1)) - 1) * 16 +
        (instr('0123456789abcdef', substr(hx, 10, 1)) - 1) AS ohash
      FROM h)
    SELECT shard, count(*) AS n_docs, CAST(sum(nbytes) AS BIGINT) AS sum_bytes,
      CAST(sum(ohash) AS BIGINT) AS fp_sum,
      CAST(min(ohash) AS BIGINT) AS fp_min,
      CAST(max(ohash) AS BIGINT) AS fp_max
    FROM a GROUP BY shard ORDER BY shard""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.shardAssign(
        t(s, d, "documents"), col("doc_id"), 8)
      .select(col("shard"), octet_length(col("text")).as("nbytes"),
        col("ohash"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nbytes").as("sum_bytes"),
        sum("ohash").as("fp_sum"), min("ohash").as("fp_min"),
        max("ohash").as("fp_max"))
      .orderBy("shard")
  }

  /** eval-set decontamination — docs from source 'src0' act as the
    * held-out benchmark; every other doc reports how many of its
    * distinct word-3-gram digests leak into the eval set. Spark side
    * broadcasts ONE sorted eval digest array and runs the native
    * fused intersect per doc (map-only, no train-side shuffle);
    * oracle side rebuilds the same digest lists and uses DuckDB
    * list_intersect. */
  val t6 = Q("t6_contamination", Some(s"""
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                 FROM documents),
    base AS (SELECT doc_id, source,
               list_sort(list_distinct($hashedShingles)) AS sh FROM tok),
    ev AS (SELECT list_sort(list_distinct(flatten(list(sh)))) AS esh
           FROM base WHERE source = 'src0'),
    tr AS (SELECT doc_id, sh FROM base WHERE source <> 'src0')
    SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
      CAST(len(list_intersect(sh, esh)) AS BIGINT) AS n_hit,
      CASE WHEN len(sh) = 0 THEN 0.0 ELSE
        floor((len(list_intersect(sh, esh)) * 1.0 / len(sh)) * 10000.0 + 0.5)
          / 10000.0 END AS contam
    FROM tr CROSS JOIN ev ORDER BY doc_id""")) { (s, d) =>
    graft.operators.TextAnalysis.contamination(
      t(s, d, "documents"), "doc_id", "text",
      org.apache.spark.sql.functions.col("source") === "src0")
      .orderBy("doc_id")
  }

  /** deterministic stratified sampling — the data-mixing step: the
    * over-represented stratum (en) is downsampled to 25% while tail
    * languages keep full weight; keep/drop is a pure function of
    * md5(doc_id) so the sample is engine/run/partitioning-invariant. */
  // coalesce mirrors Sampling.hashFrac: a NULL key hashes as the
  // empty string on BOTH engines (md5(NULL) would otherwise yield a
  // NULL frac here and silently drop the row oracle-side only)
  val d10 = Q("d10_stratified", Some("""
    WITH u AS (SELECT lang, strlen(text) AS nbytes,
      ((instr('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 1)) - 1) * 4096 +
       (instr('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 2, 1)) - 1) * 256 +
       (instr('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 3, 1)) - 1) * 16 +
       (instr('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 4, 1)) - 1)) / 65536.0 AS frac
      FROM documents)
    SELECT lang, count(*) AS n_docs, CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM u WHERE frac < CASE lang WHEN 'en' THEN 0.25 ELSE 1.0 END
    GROUP BY lang ORDER BY lang""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.stratifiedSample(
        t(s, d, "documents"), col("lang"), col("doc_id"),
        Map("en" -> 0.25), defaultRate = 1.0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("sum_bytes"))
      .orderBy("lang")
  }

  // the Sampling.hashFrac fold, reproduced digit by digit (same
  // expression d10 uses inline) — incl. its NULL-key-as-empty-string
  // coalesce
  private[queries] val fracExpr = (1 to 4)
    .map(i => s"(instr('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
    .mkString("(", " + ", ") / 65536.0")

  /** token-budget data mixing — the step after d10's fixed rates:
    * given target stratum WEIGHTS and a total token BUDGET, derive
    * each source's keep rate min(1, budget·share/tokens) from ONE
    * tiny per-stratum aggregate, then keep/drop deterministically per
    * doc. Here: a 10k-token budget with source src0 weighted 3× —
    * under-allocation passthrough (rate clamps at 1) and fractional
    * downsampling both exercised. The rate arithmetic
    * (budget * (w / wsum)) / toks is the SAME IEEE expression on both
    * engines, so the boundary `frac < rate` bit-matches. */
  val d12 = Q("d12_mix", Some(s"""
    WITH tc AS (SELECT source,
                  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS toks,
                  CASE source WHEN 'src0' THEN 3.0 ELSE 1.0 END AS w
                FROM documents GROUP BY source),
    r AS (SELECT source,
            least(1.0, (10000.0 * (w / (SELECT sum(w) FROM tc))) / toks) AS rate
          FROM tc),
    u AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
            $fracExpr AS frac FROM documents)
    SELECT u.source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM u JOIN r ON u.source = r.source WHERE u.frac < r.rate
    GROUP BY u.source ORDER BY u.source""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.mixToBudget(
        t(s, d, "documents"), col("source"), col("doc_id"),
        size(split(col("text"), " ")), 10000.0, Map("src0" -> 3.0))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"))
      .orderBy("source")
  }

  /** sequence packing — concatenation-style: docs sharded by the
    * hashFrac fold (16 shards), ordered by doc_id within the shard,
    * each doc starting in sequence floor(tokens_before / 512); one
    * row per (shard, sequence) with docs started + their tokens. The
    * whole packing layout (shard → order → running sum → boundary
    * arithmetic) is hash-checked against the oracle's window sum. */
  val d14 = Q("d14_pack", Some(s"""
    WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(floor(($fracExpr) * 16) AS BIGINT) AS shard
               FROM documents),
    c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum FROM t)
    SELECT shard, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS seq_id,
      count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS toks
    FROM c GROUP BY shard, seq_id ORDER BY shard, seq_id""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.packSequences(
        t(s, d, "documents"), col("doc_id"),
        size(split(col("text"), " ")).cast("long"), 512L, 16)
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .orderBy("shard", "seq_id")
  }

  /** packed spans — d14's trainer-facing decomposition: one row per
    * (shard, seq_id, doc-slice), boundary-crossing docs split into
    * contiguous slices across consecutive sequences. The full span
    * table (slice_start/slice_len within the doc, seq_offset within
    * the sequence) is hash-checked against the oracle's window-sum +
    * generate_series arithmetic. */
  val d15 = Q("d15_pack_spans", Some(s"""
    WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(floor(($fracExpr) * 16) AS BIGINT) AS shard
               FROM documents),
    c AS (SELECT doc_id, shard, coalesce(n_tok, 0) AS tok,
            sum(coalesce(n_tok, 0)) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS cum FROM t),
    b AS (SELECT *, cum - tok AS bef,
            CAST(floor((cum - tok) / 512.0) AS BIGINT) AS q0,
            greatest(CAST(floor((cum - tok) / 512.0) AS BIGINT),
                     CAST(floor((cum - 1) / 512.0) AS BIGINT)) AS q1
          FROM c),
    s AS (SELECT doc_id, shard, tok, cum, bef,
            unnest(generate_series(q0, q1)) AS seq_id FROM b)
    SELECT shard, seq_id, doc_id,
      CAST(greatest(0, seq_id * 512 - bef) AS BIGINT) AS slice_start,
      CAST(least((seq_id + 1) * 512, cum) - greatest(seq_id * 512, bef) AS BIGINT) AS slice_len,
      CAST(greatest(seq_id * 512, bef) - seq_id * 512 AS BIGINT) AS seq_offset
    FROM s ORDER BY shard, seq_id, doc_id""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.packSpans(
        t(s, d, "documents"), col("doc_id"),
        size(split(col("text"), " ")).cast("long"), 512L, 16)
      .select("shard", "seq_id", "doc_id", "slice_start", "slice_len",
        "seq_offset")
      .orderBy("shard", "seq_id", "doc_id")
  }

  /** cluster-representative selection
    * ([[graft.operators.Dedup.clusterRepresentatives]]): d9's
    * duplicate clusters, but each cluster keeps its highest-QUALITY
    * member (t2's score; ties → min id) instead of its min id — the
    * keep rule real pipelines use so the clean copy survives its
    * boilerplate twins. Oracle reuses d9's cluster CTEs verbatim and
    * re-derives t2's score expression. */
  val d18 = Q("d18_dedup_rep", Some(s"""
    WITH RECURSIVE $ccCtes,
    sq AS (SELECT doc_id,
             floor((least(1.0, len(string_split(lower(text), ' ')) / 100.0) * 0.5 +
               (len(list_filter(string_split(lower(text), ' '), w -> $stopPredD)) * 1.0 /
                len(string_split(lower(text), ' '))) * 0.5) * 10000.0 + 0.5) / 10000.0 AS score
           FROM documents),
    g AS (SELECT c.comp, c.node, s.score FROM cc c
          JOIN sq s ON s.doc_id = c.node),
    r AS (SELECT comp, node,
            row_number() OVER (PARTITION BY comp
                               ORDER BY score DESC, node) AS rn,
            count(*) OVER (PARTITION BY comp) AS n_members
          FROM g)
    SELECT comp, node AS keeper, CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1 ORDER BY comp""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    val docs = t(s, d, "documents")
    val scores = graft.operators.TextAnalysis
      .quality(docs, "doc_id", "text").select(col("doc_id"), col("score"))
    D.clusterRepresentatives(docs, "doc_id", "text", scores, 0.9)
      .orderBy("comp")
  }

  /** exact fixed-count per-stratum sampling
    * ([[graft.operators.Sampling.sampleN]]): the first 15 docs per
    * language in md5(doc_id) order — bottom-k per stratum. The
    * SELECTED SET itself is the output (not an aggregate), so the
    * oracle pins exactly which documents the sample contains on any
    * engine. */
  val d17 = Q("d17_sample_n", Some("""
    WITH r AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(coalesce(CAST(doc_id AS VARCHAR), '')), doc_id) AS rn
               FROM documents)
    SELECT lang, doc_id FROM r WHERE rn <= 15
    ORDER BY lang, doc_id""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.sampleN(
        t(s, d, "documents"), col("lang"), col("doc_id"), 15)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  /** d19: cross-document repeated-n-gram rate — the exact-substring
    * duplication signal (the Lee-et-al "dedup makes LMs better"
    * diagnostic, shingle-granular): for each doc, the fraction of its
    * distinct word-3-gram digests that occur in at least one OTHER
    * document. High dup_frac = boilerplate/template text that
    * document-level dedup (d2/d6) keeps because the docs as wholes
    * differ. Scale shape: only 48-bit digests ever shuffle (explode →
    * digest-count partial agg → digest-keyed join back → doc-keyed
    * partial agg); documents never leave their scan partitions. Note
    * df counts DOCS per digest (each doc's set is distinct), so
    * df >= 2 ⇔ "appears in another doc". */
  val d19 = Q("d19_dup_ngrams", Some(s"""
    WITH $tokCte,
    base AS (SELECT doc_id, list_distinct($hashedShingles) AS shh FROM tok),
    ex AS (SELECT doc_id, unnest(shh) AS g FROM base),
    freq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
    per AS (SELECT e.doc_id, count(*) AS n_shingles,
              CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM ex e JOIN freq f ON e.g = f.g GROUP BY e.doc_id)
    SELECT doc_id, n_shingles, n_dup,
      floor((n_dup * 1.0 / n_shingles) * 10000.0 + 0.5) / 10000.0 AS dup_frac
    FROM per ORDER BY doc_id""")) { (s, d) =>
    val ex = D.shingleSets(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val freq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    ex.join(freq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1).otherwise(0)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        Analytics.roundA(col("n_dup") * 1.0 / col("n_shingles"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** d20: asymmetric CONTAINMENT dedup — |A∩B|/|A| (and /|B|) over
    * the 48-bit shingle-digest sets, candidates from d2's MinHash-LSH
    * bands: catches doc-IN-doc duplication (a short doc quoted or
    * template-wrapped inside a longer one) that symmetric Jaccard
    * misses — the small doc's containment is ~1 while the pair's
    * Jaccard is only |A|/|B|. Verify is the native two-pointer
    * sorted-intersect (no per-pair hash sets); band candidates keep
    * the pair count linear, same as d6. */
  val d20 = Q("d20_containment", Some(s"""
    WITH $tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS bb
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j)),
    cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             FROM bands x JOIN bands y ON x.j = y.j AND x.bb = y.bb
               AND x.doc_id < y.doc_id),
    base AS (SELECT doc_id, list_distinct($hashedShingles) AS shh FROM tok),
    pairs AS (SELECT c.d1, c.d2,
        floor((len(list_intersect(a.shh, b.shh)) * 1.0 / len(a.shh))
          * 10000.0 + 0.5) / 10000.0 AS cont1,
        floor((len(list_intersect(a.shh, b.shh)) * 1.0 / len(b.shh))
          * 10000.0 + 0.5) / 10000.0 AS cont2
      FROM cand c JOIN base a ON a.doc_id = c.d1
                  JOIN base b ON b.doc_id = c.d2)
    SELECT d1, d2, cont1, cont2 FROM pairs
    WHERE greatest(cont1, cont2) >= 0.8 ORDER BY d1, d2""")) { (s, d) =>
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    val docs = t(s, d, "documents")
    val sets = D.shingleSets(docs, "doc_id", "text")
    val a = sets.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val b = sets.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    D.minhashCandidates(docs, "doc_id", "text").select("d1", "d2")
      .join(a, "d1").join(b, "d2")
      .withColumn("ic", sorted_intersect_count(col("sh1"), col("sh2")))
      .select(col("d1"), col("d2"),
        Analytics.roundA(col("ic") * 1.0 / size(col("sh1")), 4).as("cont1"),
        Analytics.roundA(col("ic") * 1.0 / size(col("sh2")), 4).as("cont2"))
      .filter(greatest(col("cont1"), col("cont2")) >= 0.8)
      .orderBy("d1", "d2")
  }

  /** memory-bounded Bloom decontamination
    * ([[graft.operators.TextAnalysis.bloomContamination]]) — t6's
    * sketch twin: the eval set compressed into a fixed 64 Kbit Bloom
    * filter (3 salted fold48 positions per shingle digest, 32 bits
    * per array word), broadcast at CONSTANT size however large the
    * eval set grows; per-shingle membership is 3 O(1) word probes.
    * One-sided error — a leaked shingle ALWAYS hits — and fully
    * deterministic: both engines derive identical positions, so the
    * oracle reproduces the exact same false positives and the sketch
    * output is hash-checked, not just bounded. */
  val d25 = {
    import graft.operators.TextAnalysis.bloomPosDuck
    val m = 1 << 16
    val k = 3
    val nWords = m / 32
    Q("d25_bloom_decontam", Some(s"""
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                 FROM documents),
    base AS (SELECT doc_id, source,
               list_sort(list_distinct($hashedShingles)) AS sh FROM tok),
    ed AS (SELECT unnest(sh) AS dig FROM base WHERE source = 'src0'),
    ep AS (${(0 until k).map(j =>
      s"SELECT ${bloomPosDuck(j, m)} AS p FROM ed").mkString(" UNION ALL ")}),
    wr AS (SELECT p // 32 AS idx,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS w
           FROM ep GROUP BY 1),
    bl AS (SELECT list(coalesce(w.w, 0) ORDER BY r.range) AS bloom
           FROM range(0, $nWords) r LEFT JOIN wr w ON w.idx = r.range),
    tr AS (SELECT doc_id, sh FROM base WHERE source <> 'src0'),
    pr AS (SELECT doc_id, unnest(sh) AS dig FROM tr),
    hits AS (SELECT pr.doc_id,
               sum(CASE WHEN ${(0 until k).map(j =>
      s"(bl.bloom[CAST(${bloomPosDuck(j, m)} // 32 AS INT) + 1] & " +
        s"(1::BIGINT << CAST(${bloomPosDuck(j, m)} % 32 AS INT))) <> 0")
      .mkString("\n                 AND ")} THEN 1 ELSE 0 END) AS n_hit
             FROM pr CROSS JOIN bl GROUP BY pr.doc_id)
    SELECT t.doc_id, CAST(len(t.sh) AS BIGINT) AS n_shingles,
      CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      CASE WHEN len(t.sh) = 0 THEN 0.0 ELSE
        floor((coalesce(h.n_hit, 0) * 1.0 / len(t.sh)) * 10000.0 + 0.5)
          / 10000.0 END AS contam
    FROM tr t LEFT JOIN hits h USING (doc_id) ORDER BY t.doc_id""")) { (s, d) =>
      graft.operators.TextAnalysis.bloomContamination(
        t(s, d, "documents"), "doc_id", "text",
        col("source") === "src0", mBits = m, k = k)
        .orderBy("doc_id")
    }
  }

  /** token-blocked edit-distance fuzzy join over the part-name
    * domain ([[graft.operators.Dedup.fuzzyPairs]]) — entity
    * resolution. Distinct-domain-first (the only fact-table pass is
    * the count agg), token blocking with the stop-token cap, exact
    * levenshtein ≤ 3 on candidates, pair weights = fact
    * multiplicities. The oracle mirrors the blocking (what ships is
    * what's checked); both engines' `levenshtein` is the standard
    * unit-cost edit distance. */
  val d24 = Q("d24_fuzzy_join", Some("""
    WITH names AS (SELECT p_name AS nm, count(*) AS n_rows FROM part GROUP BY p_name),
    tok AS (SELECT nm, unnest(list_distinct(string_split(nm, ' '))) AS w FROM names),
    ok AS (SELECT w FROM tok GROUP BY w HAVING count(*) <= 32),
    blk AS (SELECT t.nm, t.w FROM tok t JOIN ok USING (w)),
    cand AS (SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
             FROM blk a JOIN blk b ON a.w = b.w AND a.nm < b.nm),
    p AS (SELECT name_a, name_b,
            CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
          FROM cand WHERE levenshtein(name_a, name_b) <= 3)
    SELECT p.name_a, p.name_b, p.dist,
      CAST(na.n_rows AS BIGINT) AS n_a, CAST(nb.n_rows AS BIGINT) AS n_b
    FROM p JOIN names na ON na.nm = p.name_a
           JOIN names nb ON nb.nm = p.name_b
    ORDER BY p.name_a, p.name_b""")) { (s, d) =>
    D.fuzzyPairs(t(s, d, "part"), "p_name", tau = 3, maxTokenNames = 32)
      .orderBy("name_a", "name_b")
  }

  /** TEMPERATURE-scaled mixing ([[graft.operators.Sampling.temperatureMix]])
    * — d12 with the weights DERIVED from the data: stratum weight =
    * (token total)^α, the mT5/XLM-R low-resource flattening knob at
    * α = 0.5. The sqrt weight is micro-quantized to an exact integer
    * before the rate division (sqrt is correctly rounded everywhere;
    * the division chain is then the same IEEE expression on both
    * engines), so the keep boundary bit-matches like d12's. Budget
    * 8000 tokens: big sources downsample, the smallest clamp at
    * rate 1 — both branches of `least` exercised. */
  val d30 = Q("d30_temp_mix", Some(s"""
    WITH tc AS (SELECT source,
                  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS toks
                FROM documents GROUP BY source),
    w AS (SELECT source, toks,
            CAST(floor(sqrt(toks) * 1000000.0 + 0.5) AS BIGINT) AS ws
          FROM tc),
    r AS (SELECT source,
            least(1.0, (8000.0 * (ws * 1.0 / (SELECT sum(ws) FROM w))) / toks) AS rate
          FROM w),
    u AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
            $fracExpr AS frac FROM documents)
    SELECT u.source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM u JOIN r ON u.source = r.source WHERE u.frac < r.rate
    GROUP BY u.source ORDER BY u.source""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.temperatureMix(
        t(s, d, "documents"), col("source"), col("doc_id"),
        size(split(col("text"), " ")), 8000.0, alpha = 0.5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"))
      .orderBy("source")
  }

  // ---- d31: the PERSISTED DEDUP SIGNATURE INDEX
  // (graft.operators.DedupIndex) — the third index lifecycle, serving
  // the near-dup corpus check the streaming ingest seat holds in
  // driver memory. Built once per corpus into a content-stamped
  // location (Text.ensureTextIndex's discipline); the timed/checked
  // passes measure index-served probing.
  private[graft] def ensureDedupIndex(s: SparkSession, d: String): String = {
    val stamp = Fixture.stamp(s, d, "documents")
    Fixture.stamped("dindex", stamp, Fixture.has(_, "meta/_SUCCESS")) { build =>
      graft.operators.DedupIndex.write(
        t(s, d, "documents").filter(col("doc_id") % 7 =!= 3),
        "doc_id", "text", build.getPath, stamp = stamp)
    }
  }

  /** d31: batch-vs-corpus near-dup candidates SERVED FROM THE
    * PERSISTED SIGNATURE INDEX ([[graft.operators.DedupIndex.probeEst]]) —
    * the corpus (doc_id % 7 ≠ 3) is indexed once (signatures + band
    * digests + shingle sets, content-stamped); the probe batch
    * (doc_id % 7 = 3) computes its own signatures inline through the
    * SAME functions and candidates come from the (j,b)-clustered band
    * files with the K-slot agreement estimate over stored signatures.
    * The oracle is d2/d7's SQL restricted to cross pairs — the index
    * must reproduce the inline estimator exactly, which is what the
    * hash check proves. At 100 TB the corpus appears only as the
    * persisted tables; the batch side broadcasts. */
  val d31 = Q("d31_dedup_index", Some(s"""
    WITH $tokCte,
    sh AS (SELECT doc_id, unnest($shingleExpr) AS s FROM tok),
    mh AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, j, CASE j $bandCase END AS bb
              FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) v(j)),
    cand AS (SELECT DISTINCT x.doc_id AS bid, y.doc_id AS cid
             FROM bands x JOIN bands y ON x.j = y.j AND x.bb = y.bb
             WHERE x.doc_id % 7 = 3 AND y.doc_id % 7 <> 3)
    SELECT bid, cid, ($estExpr) * 1.0 / ${D.K} AS est
    FROM cand JOIN mh a ON a.doc_id = bid JOIN mh b ON b.doc_id = cid
    ORDER BY bid, cid""")) { (s, d) =>
    val dir = ensureDedupIndex(s, d)
    graft.operators.DedupIndex.probeEst(s, dir,
        t(s, d, "documents").filter(col("doc_id") % 7 === 3))
      .orderBy("bid", "cid")
  }

  // the 6-nibble md5 fold (16^5 … 16^0), DuckDB twin of
  // Sampling.md5Nibbles(key, 1, 6)
  private val nib6 = (1 to 6)
    .map(i => s"(instr('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${1L << (4 * (6 - i))}")
    .mkString(" + ")

  /** d32: WEIGHTED per-stratum sampling
    * ([[graft.operators.Sampling.weightedSampleN]] — Efraimidis–
    * Spirakis A-Res in deterministic hash form): 15 docs per lang
    * with inclusion probability growing with document LENGTH
    * (w = n_chars, floored at 1) — the length-weighted corpus draw,
    * vs d17's uniform bottom-k. Rank key = ln(u)/w with u an exact
    * 24-bit md5 dyadic and the one ln micro-rounded by the t10
    * convention, so the oracle reproduces the rank bit for bit;
    * same WindowGroupLimit scale shape as d17 (partial top-n per
    * input partition, the exchange carries ≤ n rows per
    * (partition, stratum)). */
  val d32 = Q("d32_weighted_sample", Some(s"""
    WITH h AS (SELECT lang, doc_id,
                 greatest(coalesce(n_chars, 0), 1) AS w,
                 md5(coalesce(CAST(doc_id AS VARCHAR), '')) AS hx
               FROM documents),
    e AS (SELECT lang, doc_id,
            CAST(floor(ln((($nib6) + 1) / 16777216.0) / w * 1000000.0 + 0.5)
              AS BIGINT) AS es
          FROM h),
    r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
            ORDER BY es DESC, doc_id) AS rn FROM e)
    SELECT lang, doc_id FROM r WHERE rn <= 15
    ORDER BY lang, doc_id""")) { (s, d) =>
    import org.apache.spark.sql.functions._
    graft.operators.Sampling.weightedSampleN(
        t(s, d, "documents"), col("lang"), col("doc_id"),
        greatest(coalesce(col("n_chars"), lit(0L)), lit(1L)), 15)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  val qs: Seq[Q] = Seq(d2, d3, d4, d6, d7, d8, d9, d10, d12, d14, d15,
    d17, d18, d19, d20, d24, d25, d29, d30, d31, d32, t6)
}
