package graft.queries

import graft.{Fixture, Q, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 C — text analysis + exact dedup + multimodal metadata. */
object Text {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  private val lexValues = TextAnalysis.lexicon
    .map { case (w, l) => s"('$w','$l')" }.mkString(", ")
  private val stopPred = TextAnalysis.stopPredSql

  /** 48-bit fold of an md5-hex EXPRESSION via the portable instr
    * decode (operators.Dedup.shingleHashes' rule applied to a scalar
    * expression — identical SQL text runs in Spark and DuckDB; both
    * engines CSE the repeated md5 subexpression). */
  private[graft] def fold48(md5HexExpr: String): String = (1 to 12)
    .map(i => s"cast(instr('0123456789abcdef', substr($md5HexExpr, $i, 1)) - 1 as bigint) * cast(${math.pow(16, 12 - i).toLong} as bigint)")
    .mkString(" + ")

  val t1 = Q("t1_langid", Some(s"""
    WITH lex(w, lex_lang) AS (VALUES $lexValues),
    tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
    sc AS (SELECT doc_id, lex_lang, count(*) AS score
           FROM tok JOIN lex USING (w) GROUP BY doc_id, lex_lang),
    pick AS (SELECT doc_id, lex_lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lex_lang) AS rn FROM sc)
    SELECT d.doc_id, coalesce(p.lex_lang, 'und') AS pred_lang,
           coalesce(p.score, 0) AS score
    FROM documents d LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p USING (doc_id)
    ORDER BY d.doc_id""")) { (s, d) =>
    TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val t2 = Q("t2_quality", Some(s"""
    WITH f AS (SELECT doc_id,
      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      CAST(len(list_filter(string_split(lower(text), ' '), w -> $stopPred)) AS BIGINT) AS stop_cnt,
      strlen(text) AS nbytes FROM documents)
    SELECT doc_id, n_tok, stop_cnt,
      floor(((nbytes - n_tok + 1) * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS avg_wlen,
      floor((stop_cnt * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
      floor((least(1.0, n_tok / 100.0) * 0.5 +
             (stop_cnt * 1.0 / n_tok) * 0.5) * 10000.0 + 0.5) / 10000.0 AS score
    FROM f ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.quality(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val t3 = Q("t3_tokcount", Some("""
    SELECT doc_id,
      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
      CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS char_est,
      CAST(len(string_split(lower(text), ' ')) +
           len(list_filter(string_split(lower(text), ' '), w -> length(w) > 6)) AS BIGINT) AS bpe_est,
      greatest(CAST(len(string_split(lower(text), ' ')) AS BIGINT),
               CAST(ceil(strlen(text) / 4.0) AS BIGINT)) AS tok_est
    FROM documents ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.tokenCount(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val t4 = Q("t4_fingerprint", Some("""
    SELECT doc_id,
      md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS fp
    FROM documents ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.fingerprint(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val t5 = Q("t5_topterms", Some("""
    WITH tok AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents),
    c AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY lang, w),
    r AS (SELECT lang, w, n,
            row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rn FROM c)
    SELECT lang, rn, w, n FROM r WHERE rn <= 5 ORDER BY lang, rn""")) { (s, d) =>
    TextAnalysis.topTerms(t(s, d, "documents"), "lang", "text", 5)
      .orderBy("lang", "rn")
  }

  val d1 = Q("d1_dedup_exact", Some("""
    SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n
    FROM documents GROUP BY h ORDER BY keeper""")) { (s, d) =>
    graft.operators.Dedup.exact(t(s, d, "documents"), "doc_id", "text")
      .orderBy("keeper")
  }

  val m1 = Q("m1_blob_meta", Some("""
    SELECT doc_id, strlen(text) AS nbytes, md5(text) AS h,
      CASE WHEN substr(text, 1, 4) = 'the ' THEN 'hdr-the'
           WHEN substr(text, 1, 1) BETWEEN 'a' AND 'm' THEN 'lo' ELSE 'hi' END AS kind
    FROM documents ORDER BY doc_id""")) { (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
      octet_length(col("text")).as("nbytes"),
      md5(col("text").cast("binary")).as("h"),
      when(substring(col("text"), 1, 4) === "the ", "hdr-the")
        .when(substring(col("text"), 1, 1).between("a", "m"), "lo")
        .otherwise("hi").as("kind"))
      .orderBy("doc_id")
  }

  // chunk count clamped to >= 1 on BOTH sides: an empty document gets
  // one zero-byte chunk. Unclamped, Spark's sequence(0, -1) yields a
  // DESCENDING [0,-1] while DuckDB's range(0, 0) yields nothing — a
  // silent divergence plus nonsense negative chunk ids.
  val m2 = Q("m2_chunk", Some("""
    WITH c AS (SELECT doc_id, text,
      unnest(range(0, greatest(CAST(ceil(strlen(text) / 256.0) AS INT), 1))) AS chunk_id
      FROM documents)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      strlen(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256)) AS chunk_bytes
    FROM c ORDER BY doc_id, chunk_id""")) { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest((ceil(octet_length(col("text")) / 256.0) - 1).cast("int"),
            lit(0)))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr("octet_length(substring(text, chunk_id * 256 + 1, 256))").as("chunk_bytes"))
      .orderBy("doc_id", "chunk_id")
  }

  // hex-pair → int, portable instr fold (identical in any SQL engine)
  private def hx(pos: Int) =
    s"((instr('0123456789abcdef', substr(hx, $pos, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr(hx, ${pos + 1}, 1)) - 1)"

  /** The multimodal decode PLUMBING (binary column → mapPartitions
    * batch decode → typed metadata rows) driven through the oracle
    * gate: the stub codec derives shape from the payload's md5, which
    * the oracle reproduces digit-by-digit — so the whole executor-side
    * decode path is value-checked, not just spec-smoked. */
  val m3 = Q("m3_decode", Some(s"""
    WITH h AS (SELECT doc_id AS record_id, md5(text) AS hx,
                 strlen(text) AS nbytes FROM documents)
    SELECT record_id, 'application/octet-stream' AS media_type, nbytes,
      16 + ${hx(1)} % 240 AS width,
      16 + ${hx(3)} % 240 AS height,
      1 + ${hx(5)} % 8 AS n_frames,
      hx AS checksum
    FROM h ORDER BY record_id""")) { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.decodeMeta(
      Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text"))
      .toDF().orderBy("record_id")
  }

  /** resize-to-fit (64×64 box, aspect preserved, never upscaled):
    * integer-only target-dim arithmetic so the oracle reproduces the
    * dims exactly, and the resized payload's checksum is value-checked
    * like m3's decode — the whole executor-side resize path, not just
    * its schema. NOTE the oracle truncates by CHARACTERS (substr) with
    * a BYTE count — valid only because this corpus is ASCII (the same
    * assumption m2's chunking bakes in); a multibyte corpus needs a
    * byte-typed oracle expression. */
  val m5 = Q("m5_resize", Some(s"""
    WITH h AS (SELECT doc_id AS record_id, text, md5(text) AS hx,
                 strlen(text) AS nbytes FROM documents),
    d AS (SELECT record_id, text, nbytes,
            16 + ${hx(1)} % 240 AS w, 16 + ${hx(3)} % 240 AS h FROM h),
    r AS (SELECT record_id, text, nbytes, w, h,
            CASE WHEN greatest(w, h) <= 64 THEN w
                 ELSE greatest(1, (w * 64) // greatest(w, h)) END AS nw,
            CASE WHEN greatest(w, h) <= 64 THEN h
                 ELSE greatest(1, (h * 64) // greatest(w, h)) END AS nh
          FROM d)
    SELECT record_id, w AS width, h AS height,
      nw AS new_width, nh AS new_height,
      CAST(greatest(1, (nbytes * nw * nh) // (w * h)) AS BIGINT) AS resized_bytes,
      md5(substr(text, 1,
        CAST(greatest(1, (nbytes * nw * nh) // (w * h)) AS INT))) AS checksum
    FROM r ORDER BY record_id""")) { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.resize(
      Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text"))
      .toDF().orderBy("record_id")
  }

  /** frame sampling over the chunk grid (every 4th chunk = the
    * video-frame-subsample shape): same plumbing as m2, but emitting
    * only the sampled frames plus their in-blob byte offsets — the
    * access pattern a decode stage fans out on. */
  val m4 = Q("m4_framesample", Some("""
    WITH c AS (SELECT doc_id, text,
      unnest(range(0, greatest(CAST(ceil(strlen(text) / 256.0) AS INT), 1))) AS chunk_id
      FROM documents)
    SELECT doc_id, CAST(chunk_id // 4 AS BIGINT) AS frame_no,
      CAST(chunk_id * 256 AS BIGINT) AS byte_offset,
      strlen(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256)) AS frame_bytes
    FROM c WHERE chunk_id % 4 = 0 ORDER BY doc_id, frame_no""")) { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest((ceil(octet_length(col("text")) / 256.0) - 1).cast("int"),
            lit(0)))).as("chunk_id"))
      .filter(col("chunk_id") % 4 === 0)
      .select(col("doc_id"),
        expr("chunk_id div 4").cast("long").as("frame_no"),
        (col("chunk_id").cast("long") * 256).as("byte_offset"),
        expr("octet_length(substring(text, chunk_id * 256 + 1, 256))").as("frame_bytes"))
      .orderBy("doc_id", "frame_no")
  }

  val t7 = Q("t7_repetition", Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
    c AS (SELECT doc_id, w, count(*) AS n FROM tok GROUP BY doc_id, w),
    a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
            CAST(count(*) AS BIGINT) AS n_uniq, CAST(max(n) AS BIGINT) AS top_n
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_tok, n_uniq, top_n,
      floor((1.0 - n_uniq * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS dup_ratio,
      floor((top_n * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS top_frac
    FROM a ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.repetition(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** composed quality filter: ordered rules, first failure wins,
    * drop reasons audited per language — the curation decision the
    * t2/t7 signals exist to feed. */
  val t8 = Q("t8_filter_chain", Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(coalesce(text, '')), ' ')) AS w FROM documents),
    c AS (SELECT doc_id, w, count(*) AS n FROM tok GROUP BY doc_id, w),
    a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
            CAST(count(*) AS BIGINT) AS n_uniq, CAST(max(n) AS BIGINT) AS top_n
          FROM c GROUP BY doc_id),
    m AS (SELECT doc_id, n_tok,
            floor((1.0 - n_uniq * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS dup_ratio,
            floor((top_n * 1.0 / n_tok) * 10000.0 + 0.5) / 10000.0 AS top_frac
          FROM a),
    v AS (SELECT doc_id, CASE WHEN n_tok < 25 THEN 'too_short'
            WHEN dup_ratio > 0.65 THEN 'too_repetitive'
            WHEN top_frac > 0.15 THEN 'top_heavy'
            ELSE 'keep' END AS verdict FROM m)
    SELECT verdict, lang, count(*) AS n_docs
    FROM v JOIN documents USING (doc_id)
    GROUP BY verdict, lang ORDER BY verdict, lang""")) { (s, d) =>
    val docs = t(s, d, "documents")
    docs.join(TextAnalysis.filterChain(docs, "doc_id", "text"), "doc_id")
      .groupBy("verdict", "lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("verdict", "lang")
  }

  // the Luhn mod-10 check as a SQL boolean over candidate string `m`:
  // right-to-left fold over the separator-stripped digits, doubling
  // every second digit — mirrors graft.functions.LuhnValid exactly
  private def luhnSql(m: String): String = {
    val clean = s"replace(replace($m, ' ', ''), '-', '')"
    val dig = s"CAST(substr($clean, strlen($clean) - i + 1, 1) AS INT)"
    s"""(list_sum(list_transform(range(1, strlen($clean) + 1),
        i -> CASE WHEN i % 2 = 0 THEN
               CASE WHEN 2 * $dig > 9 THEN 2 * $dig - 9 ELSE 2 * $dig END
             ELSE $dig END)) % 10 = 0)"""
  }

  /** PII scrub over the corpus. THIS corpus is PII-free by
    * construction, which makes the oracle check the one that matters
    * for a scrubber's other failure mode: zero false positives — 500
    * clean docs must come back with zero redactions and byte-identical
    * text (clean_fp = md5 of the scrubbed text, hash-compared against
    * DuckDB's RE2 applying the same patterns — including the
    * Luhn-gated card rule, reproduced as a list_filter + fold). The
    * true-positive side (planted emails/phones/IPs/cards redacted,
    * counts right, Luhn false-positives kept) is pinned in
    * TextMultimodalSpec, where PII can be synthesized freely. */
  val t9 = Q("t9_pii", Some(s"""
    WITH s1 AS (SELECT doc_id,
        len(regexp_extract_all(text, '${TextAnalysis.piiEmail}')) AS n_email,
        regexp_replace(text, '${TextAnalysis.piiEmail}', '<EMAIL>', 'g') AS t1
      FROM documents),
    s2 AS (SELECT doc_id, n_email,
        len(regexp_extract_all(t1, '${TextAnalysis.piiIp}')) AS n_ip,
        regexp_replace(t1, '${TextAnalysis.piiIp}', '<IP>', 'g') AS t2
      FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ip,
        len(regexp_extract_all(t2, '${TextAnalysis.piiPhone}')) AS n_phone,
        regexp_replace(t2, '${TextAnalysis.piiPhone}', '<PHONE>', 'g') AS t3
      FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ip, n_phone, t3,
        list_filter(regexp_extract_all(t3, '${TextAnalysis.piiCc}'),
          m -> ${luhnSql("m")}) AS ccs
      FROM s3)
    SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
      CAST(n_ip AS BIGINT) AS n_ip, CAST(n_phone AS BIGINT) AS n_phone,
      CAST(len(ccs) AS BIGINT) AS n_cc,
      md5(list_reduce(list_prepend(t3, ccs),
        (acc, x) -> replace(acc, x, '<CC>'))) AS clean_fp
    FROM s4 ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.scrubPii(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("n_cc"), md5(col("text_clean").cast("binary")).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** corpus-trained bigram LM scoring ([[TextAnalysis.lmScore]]) —
    * the perplexity quality filter. The oracle retrains the same
    * Laplace bigram model in SQL (list_zip bigrams → count CTEs) and
    * reproduces the micro-unit fixed-point log-probs, so the whole
    * train→score path is hash-checked; per-doc sums are exact longs
    * (summation-order-free), only the final avg is a rounded double. */
  // the Laplace-bigram LM train+score CTE chain (ends at agg =
  // (doc_id, n_bigrams, ll_micro)) — shared verbatim by t10 (per-doc
  // scores) and t13 (decile buckets), so the model can't drift
  private val lmCtes = """tok AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
    bg AS (SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
           FROM tok, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(p)),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY w1),
    v AS (SELECT count(DISTINCT w) AS vs FROM (SELECT unnest(l) AS w FROM tok)),
    lp AS (SELECT b.doc_id,
             CAST(floor(ln((c12.n12 + 1.0) / (c1.n1 + v.vs)) * 1000000.0 + 0.5)
                  AS BIGINT) AS lp_micro
           FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
    agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_micro) AS ll_micro
            FROM lp GROUP BY doc_id)"""

  private val t10OracleSql = s"""
    WITH $lmCtes
    SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
      CAST(coalesce(a.ll_micro, 0) AS BIGINT) AS ll_micro,
      floor((a.ll_micro / 1000000.0 / a.n_bigrams) * 10000.0 + 0.5) / 10000.0 AS avg_ll
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id"""

  val t10 = Q("t10_lm", Some(t10OracleSql)) { (s, d) =>
    TextAnalysis.lmScore(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // t25: perplexity scores SERVED FROM THE PERSISTED LM
  // (graft.operators.LmIndex) — the model-artifact lifecycle: t10
  // retrains per run; this trains once into a content-stamped
  // location and scores from the frozen count tables. Same
  // stamp/atomic-publish discipline as the other three indexes.
  private def ensureLmIndex(s: SparkSession, d: String): String = {
    val stamp = Fixture.stamp(s, d, "documents")
    Fixture.stamped("lmindex", stamp, Fixture.has(_, "meta/_SUCCESS")) { build =>
      graft.operators.LmIndex.write(t(s, d, "documents"), "text",
        build.getPath, stamp = stamp)
    }
  }

  /** t25: the Laplace-bigram perplexity filter SERVED FROM THE
    * PERSISTED MODEL ([[graft.operators.LmIndex.score]]) — scores
    * ≡ inline t10 BIT-FOR-BIT when the model corpus is the scored
    * corpus (the shared `lpMicro` expression over identical counts;
    * LmIndexSpec pins it, plus frozen-model semantics on UNSEEN
    * text and append ≡ retrain), so the oracle IS t10's SQL. The
    * production shape: train once on the reference corpus, score
    * every later batch map-side against the frozen artifact. */
  val t25 = Q("t25_lm_index", Some(t10OracleSql)) { (s, d) =>
    val dir = ensureLmIndex(s, d)
    graft.operators.LmIndex.score(s, dir, t(s, d, "documents"),
      "doc_id", "text").orderBy("doc_id")
  }

  /** token-distribution entropy ([[TextAnalysis.entropy]]) — the
    * information-theoretic boilerplate signal. Per-type -p·ln p terms
    * are micro-unit fixed-point longs before the per-doc sum (t10's
    * determinism rule), so the whole H computation hash-checks. */
  val t11 = Q("t11_entropy", Some("""
    WITH pt AS (SELECT doc_id, w, count(*) AS n FROM
                 (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
                GROUP BY doc_id, w),
    tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
              count(*) AS n_uniq FROM pt GROUP BY doc_id),
    h AS (SELECT p.doc_id, t.n_tok, t.n_uniq,
            CAST(sum(CAST(floor(-(p.n * 1.0 / t.n_tok) *
              ln(p.n * 1.0 / t.n_tok) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
              AS h_micro
          FROM pt p JOIN tot t USING (doc_id)
          GROUP BY p.doc_id, t.n_tok, t.n_uniq)
    SELECT d.doc_id, coalesce(h.n_tok, 0) AS n_tok,
      coalesce(h.n_uniq, 0) AS n_uniq,
      CAST(coalesce(h.h_micro, 0) AS BIGINT) AS h_micro,
      floor((h.h_micro / 1000000.0) * 10000.0 + 0.5) / 10000.0 AS entropy
    FROM documents d LEFT JOIN h USING (doc_id)
    ORDER BY d.doc_id""")) { (s, d) =>
    TextAnalysis.entropy(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // m6/m7's bit-majority SQL, mirroring queries/Dedup.d3's generators
  // but over 256-byte chunk digests instead of token digests —
  // parametrized by signature width (m6 ships 32-bit signatures; m7
  // blocks on 60-bit ones, the width ∝ log₂|corpus| rule)
  private def chunkDigits(bits: Int) = (0 until bits / 4)
    .map(i => s"instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1 AS d$i")
    .mkString(", ")
  private def voteSums(bits: Int) = (0 until bits)
    .map(b => s"sum(((d${b / 4} // ${1 << (b % 4)}) % 2) * 2 - 1) AS s$b")
    .mkString(", ")
  private def sigBits(bits: Int) = (0 until bits)
    .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
    .mkString(" + ")

  /** perceptual-hash signatures for the blob corpus — the multimodal
    * near-dup entry ([[graft.operators.Multimodal.phash]]): chunk-
    * majority 32-bit signature per payload, value-checked bit by bit
    * against the oracle's reproduction of the chunk grid + md5 votes. */
  // the phash signature construction (chunk grid → md5 votes →
  // bit-majority, ending at sg = (record_id, phash)) — ONE generator
  // shared by m6 (signatures) and m7 (near-dup pairs) so the
  // signature definition cannot drift between the two oracles
  private def phashSigCtes(bits: Int) = s"""
    c AS (SELECT doc_id, text,
      unnest(range(0, greatest(CAST(ceil(strlen(text) / 256.0) AS INT), 1))) AS ci
      FROM documents),
    k AS (SELECT doc_id, md5(substr(text, CAST(ci * 256 + 1 AS INT), 256)) AS hx
          FROM c),
    dg AS (SELECT doc_id, ${chunkDigits(bits)} FROM k),
    sm AS (SELECT doc_id, ${voteSums(bits)} FROM dg GROUP BY doc_id),
    sg AS (SELECT doc_id AS record_id, CAST(${sigBits(bits)} AS BIGINT) AS phash FROM sm)"""

  val m6 = Q("m6_phash", Some(s"""
    WITH ${phashSigCtes(32)}
    SELECT record_id, phash FROM sg ORDER BY record_id""")) { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.phash(
      Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text"))
      .orderBy("record_id")
  }

  /** perceptual-hash band candidates + exact Hamming distance
    * ([[graft.operators.Multimodal.phashCandidates]] — the candidate
    * stage of [[graft.operators.Multimodal.phashNearDups]], whose
    * ≤3-bit threshold and pigeonhole-exactness are spec'd with
    * planted payloads; this corpus has no payload-level dups, so the
    * gate checks the candidate stage, which is non-empty). Blocks on
    * 60-BIT signatures: bucket count per band is 2^(bits/4), so m6's
    * 32-bit width is a FIXED 256 buckets — measured quadratic at sf1
    * (r=27, the d5 trap in multimodal clothing); at 60 bits each band
    * has 2^15 buckets and occupancy follows the width ∝
    * log₂\|corpus\| rule (corpusBits' twin). Oracle rebuilds the same
    * signatures and bands in SQL from the ONE shared generator. */
  val m7 = Q("m7_phash_pairs", Some(s"""
    WITH ${phashSigCtes(60)},
    bd AS (SELECT record_id, phash, b,
             (phash // (CASE b WHEN 0 THEN 1 WHEN 1 THEN ${1L << 15}
                        WHEN 2 THEN ${1L << 30} ELSE ${1L << 45} END))
               % ${1 << 15} AS bv
           FROM sg CROSS JOIN (VALUES (0),(1),(2),(3)) t(b)),
    pp AS (SELECT DISTINCT a.record_id AS r1, a.phash AS s1,
             bb.record_id AS r2, bb.phash AS s2
           FROM bd a JOIN bd bb ON a.b = bb.b AND a.bv = bb.bv
             AND a.record_id < bb.record_id)
    SELECT r1, r2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS dist
    FROM pp ORDER BY r1, r2""")) { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.phashCandidates(Multimodal.phash(
      Multimodal.asBinary(t(s, d, "documents"), "doc_id", "text"), 60),
      bits = 60)
      .orderBy("r1", "r2")
  }

  /** m8: frame-level video near-dup — which payloads share SAMPLED
    * FRAMES: m4's every-4th-chunk frame grid, each frame keyed by a
    * 48-bit digest of its content; two payloads pair when they share
    * >= 1 distinct frame digest (a shared 256-byte frame is already
    * an exact content match; raise the threshold for longer media) (clip reuse / re-encode detection,
    * the multimodal twin of d20's containment). STOP-FRAME CAP: a
    * digest occurring in > 32 docs (intros, black frames, silence) is
    * excluded BEFORE pairing — the stopword rule for frames; without
    * it one pervasive frame makes the digest-bucket self-join
    * quadratic in the corpus. With the cap, per-digest buckets are
    * O(1) and the pair stage is linear, d11's band-join shape over
    * (doc, digest) rows — payloads never shuffle. */
  val m8 = Q("m8_frame_neardup", Some(s"""
    WITH c AS (SELECT doc_id, text,
      unnest(range(0, greatest(CAST(ceil(strlen(text) / 256.0) AS INT), 1))) AS chunk_id
      FROM documents),
    fr AS (SELECT DISTINCT doc_id,
             ${Text.fold48("md5(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256))")} AS f
           FROM c WHERE chunk_id % 4 = 0),
    keep AS (SELECT f FROM fr GROUP BY f
             HAVING count(*) >= 2 AND count(*) <= 32),
    fk AS (SELECT fr.doc_id, fr.f FROM fr JOIN keep USING (f)),
    p AS (SELECT a.doc_id AS r1, b.doc_id AS r2, count(*) AS n_shared
          FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id
          GROUP BY r1, r2)
    SELECT r1, r2, n_shared FROM p WHERE n_shared >= 1
    ORDER BY r1, r2""")) { (s, d) =>
    val fr = t(s, d, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest((ceil(octet_length(col("text")) / 256.0) - 1).cast("int"),
            lit(0)))).as("chunk_id"))
      .filter(col("chunk_id") % 4 === 0)
      .select(col("doc_id"),
        expr(Text.fold48("md5(cast(substring(text, chunk_id * 256 + 1, 256) as binary))"))
          .as("f"))
      .distinct()
    val keep = fr.groupBy("f").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 32)
      .select("f")
    val fk = fr.join(keep, "f")
    fk.select(col("doc_id").as("r1"), col("f"))
      .join(fk.select(col("doc_id").as("r2"), col("f")), "f")
      .filter(col("r1") < col("r2"))
      .groupBy("r1", "r2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 1)
      .orderBy("r1", "r2")
  }

  /** t13: perplexity-decile pruning buckets — the CCNet curation
    * step: score every doc with t10's bigram LM, rank into 10 deciles
    * (best avg log-prob = decile 1), report each decile's size and
    * exact mean score; a curation run keeps the head/middle deciles.
    * Determinism: avg_ll is already 4dp-rounded, so the per-decile
    * mean is an exact scaled-long sum (summation-order-free); decile
    * assignment tie-breaks on doc_id. SCALE NOTE: ntile is a global
    * sort of NARROW (doc_id, score) rows — fine to ~1e9 docs; past
    * that the production form broadcasts approx-quantile cutpoints
    * (q32's sketch) instead of ranking, trading exact decile
    * boundaries for a map-only pass. The oracle shares t10's lmCtes
    * verbatim. */
  val t13 = Q("t13_ppl_buckets", Some(s"""
    WITH $lmCtes,
    scored AS (SELECT doc_id, n_bigrams,
        floor((ll_micro / 1000000.0 / n_bigrams) * 10000.0 + 0.5) / 10000.0 AS avg_ll
      FROM agg WHERE n_bigrams > 0),
    qn AS (SELECT doc_id, n_bigrams, avg_ll,
             ntile(10) OVER (ORDER BY avg_ll DESC, doc_id) AS decile
           FROM scored)
    SELECT decile, count(*) AS n_docs,
      CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
      CAST(sum(CAST(floor(avg_ll * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        / 10000.0 / count(*) AS mean_avg_ll
    FROM qn GROUP BY decile ORDER BY decile""")) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_ll").desc, col("doc_id"))
    TextAnalysis.lmScore(t(s, d, "documents"), "doc_id", "text")
      .filter(col("n_bigrams") > 0)
      .withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("sum_bigrams"),
        (sum(floor(col("avg_ll") * 10000.0 + 0.5)) / 10000.0 / count(lit(1)))
          .as("mean_avg_ll"))
      .orderBy("decile")
  }

  /** t21: t13's 100 TB form — decile assignment from BROADCAST
    * approx-quantile cutpoints instead of the global ntile rank.
    * t13's ntile is a single-task sort of the corpus's (doc_id,
    * score) rows (the suite's one documented corpus-sized window,
    * fine to ~1e9 docs); here `approx_percentile` partial-aggregates
    * a MERGEABLE sketch map-side (one narrow shuffle of sketch
    * state, never rows), the 1-row cutpoint array broadcasts back,
    * and each doc buckets MAP-SIDE by comparing its score against
    * the 9 cutpoints — no global sort anywhere (PlanSpec pins it).
    * The trade is exact decile boundaries for sketch boundaries:
    * docs within the sketch's rank error of a cutpoint may land one
    * decile off, so sizes are approximately n/10 (spec-bounded
    * against exact t13) — which is why this registers rows-only
    * (q32's pattern) while t13 stays the oracle-checked exact twin. */
  val t21 = Q("t21_ppl_buckets_sketch", None) { (s, d) =>
    val scored = TextAnalysis.lmScore(t(s, d, "documents"), "doc_id", "text")
      .filter(col("n_bigrams") > 0)
    val cuts = scored.agg(expr(
      "approx_percentile(avg_ll, " +
        "array(0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1), 10000)")
      .as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile", expr("1 + size(filter(cuts, c -> avg_ll < c))"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("sum_bigrams"),
        (sum(floor(col("avg_ll") * 10000.0 + 0.5)) / 10000.0 / count(lit(1)))
          .as("mean_avg_ll"))
      .orderBy("decile")
  }

  /** DSIR importance weighting ([[TextAnalysis.dsirWeights]]) — the
    * hashed-n-gram data-selection method (Xie et al. 2023): hashed
    * bigram distributions fit over the `lang = 'en'` target slice vs
    * the raw corpus, per-doc weight = Σ log(p_target/p_raw) in micro
    * fixed-point, keep = weight > 0. The oracle re-fits both bucket
    * distributions in SQL through the same fold48(md5) feature hash,
    * so the fit→weight→select path is hash-checked end to end. */
  val t22 = Q("t22_dsir", Some(s"""
    WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
           string_split(lower(text), ' ') AS l FROM documents),
    bg AS (SELECT doc_id, tgt, u.p[1] || ' ' || u.p[2] AS g
           FROM tok, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(p)),
    bk AS (SELECT doc_id, tgt, (${fold48("md5(g)")}) % 4096 AS b FROM bg),
    cnt AS (SELECT b, count(*) AS cq,
              count(*) FILTER (WHERE tgt) AS ct FROM bk GROUP BY b),
    tot AS (SELECT CAST(sum(cq) AS BIGINT) AS nq,
              CAST(sum(ct) AS BIGINT) AS nt FROM cnt),
    lr AS (SELECT b,
             CAST(floor(ln((ct + 1.0) / (nt + 4096)) * 1000000.0 + 0.5) AS BIGINT)
           - CAST(floor(ln((cq + 1.0) / (nq + 4096)) * 1000000.0 + 0.5) AS BIGINT)
               AS lr_micro
           FROM cnt CROSS JOIN tot),
    w AS (SELECT doc_id, count(*) AS n_feat, sum(lr_micro) AS w_micro
          FROM bk JOIN lr USING (b) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(w.n_feat, 0) AS n_feat,
      CAST(coalesce(w.w_micro, 0) AS BIGINT) AS w_micro,
      floor((w.w_micro / 1000000.0 / w.n_feat) * 10000.0 + 0.5) / 10000.0 AS avg_lr,
      coalesce(w.w_micro, 0) > 0 AS keep
    FROM documents d LEFT JOIN w USING (doc_id)
    ORDER BY d.doc_id""")) { (s, d) =>
    TextAnalysis.dsirWeights(t(s, d, "documents"), "doc_id", "text",
      col("lang") === "en").orderBy("doc_id")
  }

  // ---- t14/t15: BPE subword tokenizer (trained merges + counts) ------
  /** the trained BPE merge table itself ([[graft.operators.Bpe]]):
    * 8 greedy merge rounds over the documents vocabulary,
    * freq-weighted, count-then-lexicographic argmax per round. The
    * oracle re-derives every round as unrolled CTEs of the identical
    * arithmetic, so the trained ARTIFACT is hash-checked — the one
    * LLM-pipeline operator class (subword tokenization) that had no
    * representative before round 9. */
  val t14 = Q("t14_bpe_merges", Some(s"""
    WITH ${graft.operators.Bpe.oracleCtes(8)},
    mt AS (${(1 to 8).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs FROM b$r")
        .mkString("\n      UNION ALL ")})
    SELECT merge_rank, lhs, rhs FROM mt ORDER BY merge_rank""")) { (s, d) =>
    graft.operators.Bpe.train(t(s, d, "documents"), "doc_id", "text", 8)._1
      .orderBy("merge_rank")
  }

  /** per-document token counts under the t14-trained merges — the
    * REAL token count the packing/mixing operators (d12/d14/d15)
    * should key their budgets on (whitespace counts over-estimate
    * rare words); docs with no words count 0 rather than vanish. */
  val t15 = Q("t15_bpe_tokens", Some(s"""
    WITH ${graft.operators.Bpe.oracleCtes(8)},
    wcnt AS (SELECT doc_id, word, count(*) AS c FROM dwords
             GROUP BY doc_id, word),
    vt AS (SELECT word, count(*) AS n_tok FROM s8 GROUP BY word)
    SELECT d.doc_id,
      CAST(coalesce(sum(w.c * v.n_tok), 0) AS BIGINT) AS n_tok
    FROM documents d
    LEFT JOIN wcnt w ON w.doc_id = d.doc_id
    LEFT JOIN vt v ON v.word = w.word
    GROUP BY d.doc_id ORDER BY d.doc_id""")) { (s, d) =>
    val docs = t(s, d, "documents")
    val (_, vocabTok) = graft.operators.Bpe.train(docs, "doc_id", "text", 8)
    graft.operators.Bpe.docTokens(docs, "doc_id", "text", vocabTok)
      .orderBy("doc_id")
  }

  // t26: token counts SERVED FROM THE PERSISTED TOKENIZER
  // (graft.operators.BpeIndex) — t14/t15 retrain per run; this
  // trains once into a content-stamped location and encodes from
  // the frozen merges/vocab (same discipline as ensureLmIndex)
  private def ensureBpeIndex(s: SparkSession, d: String): String = {
    val stamp = Fixture.stamp(s, d, "documents")
    Fixture.stamped("bpeindex", stamp, Fixture.has(_, "meta/_SUCCESS")) { build =>
      graft.operators.BpeIndex.write(t(s, d, "documents"), "doc_id",
        "text", build.getPath, nMerges = 8, stamp = stamp)
    }
  }

  /** t26: per-document token counts SERVED FROM THE PERSISTED
    * TOKENIZER ([[graft.operators.BpeIndex]] — the frozen-artifact
    * contract applied to BPE): the merge table and vocab token
    * counts were trained ONCE and committed; every later batch
    * encodes against that artifact — the token budget packing/mixing
    * should key on is the SERVING tokenizer's, not whatever today's
    * corpus retrains (and BPE merges are NOT additive, so unlike the
    * LM there is no sound append — rebuild is the honest update,
    * staged + flipped; BpeIndexSpec pins it). Serving also closes
    * t15's unseen-word under-count: out-of-vocabulary words are
    * ENCODED with the frozen merges (|unseen vocab|-sized replay)
    * instead of contributing 0 — on the training corpus there are no
    * unseen words, so t26 shares t15's oracle bit-for-bit,
    * hash-proving persist → serve ≡ train → serve. */
  val t26 = Q("t26_bpe_index", Some(s"""
    WITH ${graft.operators.Bpe.oracleCtes(8)},
    wcnt AS (SELECT doc_id, word, count(*) AS c FROM dwords
             GROUP BY doc_id, word),
    vt AS (SELECT word, count(*) AS n_tok FROM s8 GROUP BY word)
    SELECT d.doc_id,
      CAST(coalesce(sum(w.c * v.n_tok), 0) AS BIGINT) AS n_tok
    FROM documents d
    LEFT JOIN wcnt w ON w.doc_id = d.doc_id
    LEFT JOIN vt v ON v.word = w.word
    GROUP BY d.doc_id ORDER BY d.doc_id""")) { (s, d) =>
    val dir = ensureBpeIndex(s, d)
    graft.operators.BpeIndex.tokenCount(s, dir, t(s, d, "documents"),
      "doc_id", "text").orderBy("doc_id")
  }

  /** d33: SEQUENCE PACKING UNDER THE SERVED TOKENIZER — the
    * composition the packing tier exists for: d14 lays out training
    * sequences under WHITESPACE token counts (a 1.3–2× over/under
    * estimate on real text), but the sequences a trainer fills are
    * measured in the SERVING tokenizer's tokens — packing under the
    * wrong count either overflows sequences (truncation, lost data)
    * or underfills them (wasted FLOPs at 100 TB scale). Here
    * [[graft.operators.Sampling.packSequences]] keys on
    * [[graft.operators.BpeIndex.tokenCount]] from the PERSISTED
    * artifact (t26): shard → order → running BPE-token sum →
    * boundary arithmetic, hash-checked end to end (the oracle
    * re-derives the BPE counts through the unrolled merge CTEs and
    * packs with the same window sum). */
  val d33 = Q("d33_pack_bpe", Some(s"""
    WITH ${graft.operators.Bpe.oracleCtes(8)},
    wcnt AS (SELECT doc_id, word, count(*) AS c FROM dwords
             GROUP BY doc_id, word),
    vt AS (SELECT word, count(*) AS n_tok FROM s8 GROUP BY word),
    bt AS (SELECT d.doc_id,
             CAST(coalesce(sum(w.c * v.n_tok), 0) AS BIGINT) AS n_tok
           FROM documents d
           LEFT JOIN wcnt w ON w.doc_id = d.doc_id
           LEFT JOIN vt v ON v.word = w.word
           GROUP BY d.doc_id),
    t AS (SELECT doc_id, n_tok,
            CAST(floor((${Dedup.fracExpr}) * 16) AS BIGINT) AS shard
          FROM bt),
    c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum FROM t)
    SELECT shard, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS seq_id,
      count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS toks
    FROM c GROUP BY shard, seq_id ORDER BY shard, seq_id""")) { (s, d) =>
    val dir = ensureBpeIndex(s, d)
    val docs = t(s, d, "documents")
    val withTok = docs.select(col("doc_id")).join(
      graft.operators.BpeIndex.tokenCount(s, dir, docs, "doc_id", "text"),
      Seq("doc_id"))
    graft.operators.Sampling.packSequences(withTok, col("doc_id"),
        col("n_tok"), 512L, 16)
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
      .orderBy("shard", "seq_id")
  }

  /** the Gopher heuristic rule battery ([[TextAnalysis.gopher]]) —
    * published thresholds (Rae et al. 2021 app. A), first-failure
    * verdicts; the corpus's 10–99-word spread exercises both the
    * too_few_words drop and every passing rule. */
  val t16 = Q("t16_gopher", Some(s"""
    WITH f AS (SELECT doc_id, coalesce(text, '') AS tx,
        string_split(lower(coalesce(text, '')), ' ') AS l,
        strlen(coalesce(text, '')) AS nbytes FROM documents),
    m AS (SELECT doc_id,
        CAST(len(l) AS BIGINT) AS n_words,
        floor(((nbytes - len(l) + 1) * 1.0 / len(l)) * 10000.0 + 0.5) / 10000.0 AS mean_wlen,
        floor((len(regexp_extract_all(tx, '${TextAnalysis.gopherSymbolRe}')) * 1.0 / len(l)) * 10000.0 + 0.5) / 10000.0 AS symbol_ratio,
        floor((CAST(len(list_filter(l, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(l)) * 10000.0 + 0.5) / 10000.0 AS alpha_frac,
        CAST(${TextAnalysis.stopwords.map(w =>
          s"(CASE WHEN list_contains(l, '$w') THEN 1 ELSE 0 END)")
          .mkString(" + ")} AS BIGINT) AS n_stop
      FROM f)
    SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac, n_stop,
      CASE WHEN n_words < 50 THEN 'too_few_words'
           WHEN n_words > 100000 THEN 'too_many_words'
           WHEN mean_wlen < 3.0 THEN 'words_too_short'
           WHEN mean_wlen > 10.0 THEN 'words_too_long'
           WHEN symbol_ratio > 0.1 THEN 'too_symbolic'
           WHEN alpha_frac < 0.8 THEN 'non_alpha'
           WHEN n_stop < 2 THEN 'no_stopwords'
           ELSE 'keep' END AS verdict
    FROM m ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.gopher(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** TF-IDF top-5 terms per document ([[TextAnalysis.tfidfTopTerms]])
    * — keyword extraction; scores are micro fixed-point longs (t10's
    * rule) so ranking and hash both stay float-free. */
  val t17 = Q("t17_tfidf", Some("""
    WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM
                 (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
                GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(*) AS nd FROM documents),
    sc AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
             CAST(floor(tf.tf * ln(n.nd * 1.0 / df.df) * 1000000.0 + 0.5)
                  AS BIGINT) AS score_micro
           FROM tf JOIN df USING (w) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score_micro DESC, w) AS rn FROM sc)
    SELECT doc_id, rn, w, CAST(tf AS BIGINT) AS tf,
      CAST(df AS BIGINT) AS df, score_micro
    FROM r WHERE rn <= 5 ORDER BY doc_id, rn""")) { (s, d) =>
    TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 5)
      .orderBy("doc_id", "rn")
  }

  /** trained multinomial Naive Bayes language classifier
    * ([[TextAnalysis.nbClassify]]) — the model-based filtering
    * operator class (fastText-style lang-ID / quality classifiers).
    * The oracle re-derives the ENTIRE model (priors, per-(label,word)
    * Laplace log-probs, vocabulary size) as the identical micro
    * fixed-point arithmetic, so the trained model's predictions are
    * hash-checked end to end; is_match vs the training label is the
    * self-consistency accuracy signal. */
  val t18 = Q("t18_nb_lang", Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(coalesce(text, '')), ' ')) AS w
                 FROM documents),
    cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    wl AS (SELECT d.lang AS lab, t.w, count(*) AS n_wl
           FROM tok t JOIN documents d USING (doc_id) GROUP BY d.lang, t.w),
    tot AS (SELECT lab, CAST(sum(n_wl) AS BIGINT) AS tot_l FROM wl GROUP BY lab),
    v AS (SELECT count(DISTINCT w) AS vs FROM tok),
    nd AS (SELECT count(*) AS nd FROM documents),
    pri AS (SELECT lang AS lab,
              CAST(floor(ln(count(*) * 1.0 / nd.nd) * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
            FROM documents CROSS JOIN nd GROUP BY lang, nd.nd),
    ll AS (SELECT c.doc_id, tot.lab,
             CAST(sum(c.c * CAST(floor(ln((coalesce(w.n_wl, 0) + 1.0) / (tot.tot_l + v.vs)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ll_micro
           FROM cnt c CROSS JOIN tot
           LEFT JOIN wl w ON w.w = c.w AND w.lab = tot.lab
           CROSS JOIN v
           GROUP BY c.doc_id, tot.lab),
    sc AS (SELECT d.doc_id, p.lab, d.lang AS true_lab,
             coalesce(l.ll_micro, 0) + p.prior_micro AS score_micro
           FROM documents d CROSS JOIN pri p
           LEFT JOIN ll l ON l.doc_id = d.doc_id AND l.lab = p.lab),
    pick AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score_micro DESC, lab) AS rn FROM sc)
    SELECT doc_id, lab AS pred_lab, CAST(score_micro AS BIGINT) AS score_micro,
      CAST(CASE WHEN lab = true_lab THEN 1 ELSE 0 END AS BIGINT) AS is_match
    FROM pick WHERE rn = 1 ORDER BY doc_id""")) { (s, d) =>
    TextAnalysis.nbClassify(t(s, d, "documents"), "doc_id", "text", "lang")
      .orderBy("doc_id")
  }

  /** BM25 more-like-this retrieval
    * ([[TextAnalysis.bm25MoreLikeThis]]) — the LEXICAL RETRIEVAL
    * class (the keyword half of hybrid search, next to the s-family's
    * vector half): every doc ranked against doc 1's term set by
    * Okapi BM25 (k1=1.2, b=0.75), per-term scores in micro
    * fixed-point longs before the per-doc sum (t10's rule), top 20.
    * The oracle reproduces the identical expression token for token,
    * so the trained-free but parameterized ranking is hash-checked. */
  private[queries] val t20OracleSql = """
    WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM
                 (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
                GROUP BY doc_id, w),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    st AS (SELECT (SELECT count(*) FROM documents) AS n,
                  (SELECT sum(tf) FROM tf) AS sumdl),
    qt AS (SELECT DISTINCT w FROM tf WHERE doc_id = 1),
    dft AS (SELECT tf.w, count(*) AS df FROM tf JOIN qt USING (w) GROUP BY tf.w),
    sc AS (SELECT tf.doc_id,
             CAST(floor(ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) *
               (tf.tf * 2.2) /
               (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
                 (st.sumdl * 1.0 / st.n))) * 1000000.0 + 0.5) AS BIGINT) AS s_micro
           FROM tf JOIN qt USING (w) JOIN dft ON dft.w = tf.w
             JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
           WHERE tf.doc_id <> 1)
    SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
    FROM sc GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id LIMIT 20"""

  val t20 = Q("t20_bm25", Some(t20OracleSql)) { (s, d) =>
    TextAnalysis.bm25MoreLikeThis(t(s, d, "documents"), "doc_id", "text",
      queryId = 1L, k = 20)
  }

  // ---- t23: the PERSISTED INVERTED INDEX serving t20's ranking
  // (graft.operators.TextIndex) — the s11/s12 amortization story on
  // the lexical side: built on first use into a content-stamped
  // location, reused by every later probe; the timed/checked passes
  // measure index-only serving (no corpus tokenization in the probe
  // plan — TextIndexSpec pins it). Same stamp/atomic-publish
  // discipline as Embed.ensureIndex.
  private[graft] def ensureTextIndex(s: SparkSession, d: String): String =
    ensureTextIndexMeta(s, d)._1

  /** (dir, meta): serving queries reuse the meta row instead of
    * paying further meta scan+head jobs per probe (the
    * Embed.ensureIndex rule — serving paths are
    * scheduling-latency-bound) */
  private[graft] def ensureTextIndexMeta(s: SparkSession, d: String)
      : (String, graft.operators.TextIndex.Meta) = {
    val stamp = Fixture.stamp(s, d, "documents")
    val dir = Fixture.stamped("tindex", stamp,
        Fixture.has(_, "meta/_SUCCESS")) { build =>
      graft.operators.TextIndex.write(t(s, d, "documents"),
        "doc_id", "text", build.getPath, stamp = stamp)
    }
    (dir, graft.operators.TextIndex.readMeta(s, dir))
  }

  /** BM25 served FROM THE PERSISTED INVERTED INDEX
    * ([[graft.operators.TextIndex.moreLikeThis]]) — results ≡ inline
    * t20 bit-for-bit (df/N/Σdl identities are exact, the scoring
    * expression is shared token for token), so the oracle IS t20's
    * SQL. The bench artifact's t23-vs-t20 line is the measured
    * build-vs-serve gap on the lexical side. */
  val t23 = Q("t23_bm25_index", Some(t20OracleSql)) { (s, d) =>
    val (dir, mt) = ensureTextIndexMeta(s, d)
    graft.operators.TextIndex.moreLikeThis(s, dir, queryId = 1L, k = 20,
      meta = Some(mt))
  }

  // t24's oracle: t20's CTE chain with exactly two guarded textual
  // changes — the query set becomes doc 1's top-3 terms by (tf, w)
  // and the per-doc rollup gains the conjunctive HAVING — so the
  // scoring expression stays shared token for token with t20/t23
  private val t24OracleSql = {
    val qtOld = "qt AS (SELECT DISTINCT w FROM tf WHERE doc_id = 1),"
    val qtNew =
      "qt AS (SELECT w FROM tf WHERE doc_id = 1 ORDER BY tf DESC, w LIMIT 3),"
    val tailOld = """FROM sc GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id LIMIT 20"""
    val tailNew = """FROM sc GROUP BY doc_id
    HAVING count(*) = (SELECT count(*) FROM qt)
    ORDER BY bm25_micro DESC, doc_id LIMIT 20"""
    require(t20OracleSql.contains(qtOld) && t20OracleSql.contains(tailOld),
      "t24 oracle surgery no longer matches t20's SQL")
    t20OracleSql.replace(qtOld, qtNew).replace(tailOld, tailNew)
  }

  /** t24: CONJUNCTIVE (AND) BM25 from the persisted index
    * ([[graft.operators.TextIndex.probeTerms]] `requireAll = true`) —
    * the boolean-retrieval gate every keyword search engine layers
    * under its ranking: only docs containing EVERY query term are
    * scored (postings are one row per (doc, term), so the per-doc
    * match count IS the distinct matched-term count; the |query|
    * threshold is a broadcast scalar, never a driver action). The
    * query set is doc 1's top-3 terms — a realistic multi-keyword
    * AND query — read from the same postings the probe scores.
    * Oracle = t20's chain with the top-3 query CTE and the
    * conjunctive HAVING (guarded surgery above), so the scoring
    * stays hash-locked to t20/t23's. */
  val t24 = Q("t24_bm25_all", Some(t24OracleSql)) { (s, d) =>
    val (dir, mt) = ensureTextIndexMeta(s, d)
    val qt = s.read.parquet(s"$dir/postings")
      .filter(col("doc_id") === 1L)
      .orderBy(col("tf").desc, col("w")).limit(3).select("w")
    graft.operators.TextIndex.probeTerms(s, dir, qt, k = 20,
      excludeId = Some(1L), requireAll = true, meta = Some(mt))
  }

  /** cross-document span-level dedup
    * ([[graft.operators.Dedup.spanDedup]]): 16-token spans, global
    * first-occurrence keep, per-doc retention stats. The generator
    * plants duplicated spans across documents (78 cross-doc 16-token
    * chunk dups at the gate SF), so kept < total and the keep rule is
    * exercised. Spans are cut from the RAW text (span dedup is exact
    * content match — no casefold). */
  val d23 = Q("d23_span_dedup", Some(s"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sp AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok, l,
             unnest(range(0, greatest(CAST(ceil(len(l) / 16.0) AS INT), 1))) AS sp
           FROM tk),
    dg AS (SELECT doc_id, n_tok, sp,
             least(16, n_tok - sp * 16) AS span_len,
             ${Text.fold48("md5(array_to_string(l[CAST(sp * 16 + 1 AS INT):CAST(sp * 16 + 16 AS INT)], ' '))")} AS dig
           FROM sp),
    r AS (SELECT *, row_number() OVER (PARTITION BY dig
                      ORDER BY doc_id, sp) AS rn FROM dg)
    SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
      CAST(count(*) AS BIGINT) AS n_spans,
      CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
      CAST(sum(CASE WHEN rn = 1 THEN span_len ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM r GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
    graft.operators.Dedup.spanDedup(t(s, d, "documents"), "doc_id", "text", 16)
      .orderBy("doc_id")
  }

  /** overlapping-window exact-substring duplication
    * ([[graft.operators.Dedup.windowDupStats]]) — the Lee-et-al form
    * of d23: 16-token windows at stride 1, so ANY duplicated run of
    * ≥ 16 tokens is caught even when it STRADDLES d23's aligned
    * span boundaries (the planted-straddle spec shows d23 provably
    * missing one d27 catches). Per-doc window counts + how many are
    * later occurrences of an earlier identical window. */
  val d27 = Q("d27_window_dedup", Some(s"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sp AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok, l,
             unnest(range(0, greatest(CAST(len(l) AS INT) - 16, 0) + 1)) AS st
           FROM tk),
    dg AS (SELECT doc_id, n_tok, st,
             ${Text.fold48("md5(array_to_string(l[CAST(st + 1 AS INT):CAST(st + 16 AS INT)], ' '))")} AS dig
           FROM sp),
    r AS (SELECT *, row_number() OVER (PARTITION BY dig
                      ORDER BY doc_id, st) AS rn FROM dg)
    SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
      CAST(count(*) AS BIGINT) AS n_windows,
      CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
    FROM r GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
    graft.operators.Dedup.windowDupStats(t(s, d, "documents"),
      "doc_id", "text", 16, 1)
      .orderBy("doc_id")
  }

  /** window-dedup REWRITE ([[graft.operators.Dedup.windowDedupRewrite]])
    * — the APPLY side of d27 (Lee et al.'s cut): each document drops
    * exactly the tokens covered by its later-occurrence duplicated
    * windows (the interval union of overlapping dup windows = the
    * duplicated run itself, wherever it sits relative to span
    * boundaries), keeps the rest in order; the REWRITTEN CORPUS is
    * hash-checked (text_kept is an output column). Total: NULL text
    * → 0/''; an all-duplicate doc keeps its true n_tok with an
    * empty rewrite. */
  val d28 = Q("d28_window_rewrite", Some(s"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sp AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok, l,
             unnest(range(0, greatest(CAST(len(l) AS INT) - 16, 0) + 1)) AS st
           FROM tk),
    dg AS (SELECT doc_id, n_tok, st,
             ${Text.fold48("md5(array_to_string(l[CAST(st + 1 AS INT):CAST(st + 16 AS INT)], ' '))")} AS dig
           FROM sp),
    r AS (SELECT *, row_number() OVER (PARTITION BY dig
                      ORDER BY doc_id, st) AS rn FROM dg),
    dp AS (SELECT DISTINCT doc_id, pos FROM
            (SELECT doc_id,
               unnest(range(st + 1, least(st + 16, n_tok) + 1)) AS pos
             FROM r WHERE rn > 1)),
    tok0 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok, l,
               unnest(range(1, len(l) + 1)) AS pos
             FROM tk),
    tok2 AS (SELECT t.doc_id, t.n_tok, t.pos, t.l[CAST(t.pos AS INT)] AS tok,
               CASE WHEN dp.pos IS NULL THEN 0 ELSE 1 END AS dropped
             FROM tok0 t LEFT JOIN dp
               ON dp.doc_id = t.doc_id AND dp.pos = t.pos),
    k AS (SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
            CAST(sum(CASE WHEN dropped = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_tokens,
            coalesce(string_agg(CASE WHEN dropped = 0 THEN tok END,
              ' ' ORDER BY pos), '') AS text_kept
          FROM tok2 GROUP BY doc_id)
    SELECT d.doc_id, coalesce(k.n_tok, 0) AS n_tok,
      coalesce(k.kept_tokens, 0) AS kept_tokens,
      coalesce(k.text_kept, '') AS text_kept
    FROM documents d LEFT JOIN k USING (doc_id) ORDER BY d.doc_id""")) { (s, d) =>
    graft.operators.Dedup.windowDedupRewrite(t(s, d, "documents"),
      "doc_id", "text", 16, 1).orderBy("doc_id")
  }

  /** Count-Min sketch heavy hitters
    * ([[TextAnalysis.cmsTopTerms]]) — frequency estimation from a
    * FIXED k×m counter grid (here deliberately narrow, 3×16, so the
    * 31-word vocab actually collides and the one-sided overestimate
    * is exercised at the gate SF — est ≥ true, never under); both
    * engines derive identical salted positions, so the oracle
    * reproduces the exact same collisions and the sketch output is
    * hash-checked alongside the true counts. */
  val t19 = {
    import graft.operators.TextAnalysis.cmsPosDuck
    val (m, depth, topN) = (16, 3, 10)
    Q("t19_cms_heavyhitters", Some(s"""
    WITH tf AS (SELECT w, count(*) AS n FROM
                 (SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) AS w
                  FROM documents)
                GROUP BY w),
    pos AS (SELECT w, n, ${(0 until depth).map(j =>
      s"${cmsPosDuck(j, m)} AS p$j").mkString(", ")} FROM tf),
    pl AS (${(0 until depth).map(j =>
      s"SELECT w, n, $j AS rw, p$j AS pos FROM pos").mkString("\n      UNION ALL ")}),
    ctr AS (SELECT rw, pos, CAST(sum(n) AS BIGINT) AS c
            FROM pl GROUP BY rw, pos),
    est AS (SELECT pl.w, pl.n, min(ctr.c) AS est
            FROM pl JOIN ctr USING (rw, pos) GROUP BY pl.w, pl.n)
    SELECT w, CAST(est AS BIGINT) AS est, CAST(n AS BIGINT) AS n_true
    FROM est ORDER BY est DESC, w LIMIT $topN""")) { (s, d) =>
      graft.operators.TextAnalysis.cmsTopTerms(t(s, d, "documents"),
        "doc_id", "text", width = m, depth = depth, topN = topN)
    }
  }

  /** span-dedup REWRITE ([[graft.operators.Dedup.spanDedupRewrite]])
    * — the apply side of d23: each doc keeps only its
    * globally-first-occurrence 16-token spans, reassembled in
    * original order; the rewritten corpus itself is hash-checked
    * (text_kept is an output column). Total: all-duplicate docs
    * rewrite to '', not absence. */
  val d26 = Q("d26_span_rewrite", Some(s"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sp AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok, l,
             unnest(range(0, greatest(CAST(ceil(len(l) / 16.0) AS INT), 1))) AS sp
           FROM tk),
    dg1 AS (SELECT doc_id, n_tok, sp,
              least(16, n_tok - sp * 16) AS span_len,
              array_to_string(l[CAST(sp * 16 + 1 AS INT):CAST(sp * 16 + 16 AS INT)], ' ') AS sp_text
            FROM sp),
    dg AS (SELECT *, ${Text.fold48("md5(sp_text)")} AS dig FROM dg1),
    r AS (SELECT *, row_number() OVER (PARTITION BY dig
                      ORDER BY doc_id, sp) AS rn FROM dg),
    k AS (SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
            CAST(sum(CASE WHEN rn = 1 THEN span_len ELSE 0 END) AS BIGINT) AS kept_tokens,
            coalesce(string_agg(CASE WHEN rn = 1 THEN sp_text END, ' ' ORDER BY sp), '') AS text_kept
          FROM r GROUP BY doc_id)
    SELECT d.doc_id, coalesce(k.n_tok, 0) AS n_tok,
      coalesce(k.kept_tokens, 0) AS kept_tokens,
      coalesce(k.text_kept, '') AS text_kept
    FROM documents d LEFT JOIN k USING (doc_id) ORDER BY d.doc_id""")) { (s, d) =>
    graft.operators.Dedup.spanDedupRewrite(t(s, d, "documents"),
      "doc_id", "text", 16).orderBy("doc_id")
  }

  val qs: Seq[Q] = Seq(t1, t2, t3, t4, t5, t7, t8, t9, t10, t11, t13, t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26, d1, d23, d33, d26, d27, d28, m1, m2, m3, m4, m5, m6, m7, m8)
}
