package graft.queries

import graft.{Fixture, Q, Tables}
import graft.operators.Migration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Analytics.{moneySum, termSum6}

/** SURVEY §2 A — the reference's CRUD/migration surface as
  * distributed batch operators (see [[graft.operators.Migration]]).
  */
object Crud {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  val a1 = Q("a1_count", Some(
    "SELECT count(o_orderkey) AS n FROM orders")) { (s, d) =>
    Migration.countRecords(t(s, d, "orders"), "o_orderkey")
  }

  /** the ONE oracle-side pointer definition, mirroring the Spark side's
    * Migration.prefixExpr: NULL if ANY segment is NULL (concat_ws
    * would silently skip the segment and emit a malformed prefix). */
  private val guardedPrefixSql =
    "CASE WHEN source IS NULL OR doc_id IS NULL OR text IS NULL THEN NULL " +
      "ELSE concat_ws('/', 'blobs', source, doc_id, md5(text)) END AS s3_prefix"

  val a2 = Q("a2_page", Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 40""")) { (s, d) =>
    Migration.pageOffset(t(s, d, "orders"), "o_orderkey",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"), 20, 40)
  }

  val a3 = Q("a3_point_lookup", Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS odate, o_orderpriority
    FROM orders WHERE o_orderkey = 42""")) { (s, d) =>
    Migration.pointLookup(t(s, d, "orders"), "o_orderkey", 42)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("odate"),
        col("o_orderpriority"))
  }

  val a4 = Q("a4_projection", Some("""
    SELECT doc_id, lang, source, n_chars FROM documents
    ORDER BY doc_id LIMIT 100""")) { (s, d) =>
    Migration.pageOffset(t(s, d, "documents"), "doc_id",
      Seq("doc_id", "lang", "source", "n_chars"), 100, 0)
  }

  val a5 = Q("a5_blob_fetch", Some("""
    SELECT doc_id, strlen(text) AS nbytes, md5(text) AS blob_md5
    FROM documents WHERE doc_id = 7""")) { (s, d) =>
    Migration.blobFetch(t(s, d, "documents"), "doc_id", "text", 7)
  }

  val a6 = Q("a6_externalize", Some(s"""
    SELECT doc_id AS record_id, source,
      $guardedPrefixSql,
      strlen(text) AS nbytes
    FROM documents ORDER BY record_id""")) { (s, d) =>
    Migration.externalize(t(s, d, "documents"),
      col("doc_id"), col("source"), col("text"))
      .orderBy("record_id")
  }

  val a7 = Q("a7_delete", Some("""
    SELECT o_orderstatus, count(*) AS n,
      CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM orders WHERE NOT EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val tombstones = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    Migration.deleteWhere(t(s, d, "orders"), "o_orderkey", tombstones, "l_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  val a8 = Q("a8_upsert", Some("""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.05 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey))
    SELECT o_orderstatus, count(*) AS n,
      CAST(sum(CAST(floor((o_totalprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val base = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
    // 18,6 (not 18,2): updated rows carry the full-precision *1.05
    // product, so the per-row quantization grid must be fine enough
    // to be midpoint-free for derived doubles
    Migration.upsert(base, updates, "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), termSum6(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** keyset pagination — the 100 TB-safe form of a2 (OFFSET must
    * sort-and-skip the whole prefix; keyset is O(page) at any depth) */
  val a11 = Q("a11_keyset", Some("""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 40 ORDER BY o_orderkey LIMIT 20""")) { (s, d) =>
    Migration.pageAfter(t(s, d, "orders"), "o_orderkey",
      Seq("o_orderkey", "o_custkey", "o_totalprice"), 40, 20)
  }

  /** keyset pagination over a STRING primary key — the reference's
    * actual key type (order.sql:3 `order_id varchar(120)`); c_name is
    * unique and zero-padded so lexicographic order = key order */
  val a12 = Q("a12_keyset_str", Some("""
    SELECT c_name, c_custkey, c_mktsegment, c_acctbal FROM customer
    WHERE c_name > 'Customer#000000040' ORDER BY c_name LIMIT 20""")) { (s, d) =>
    Migration.pageAfter(t(s, d, "customer"), "c_name",
      Seq("c_name", "c_custkey", "c_mktsegment", "c_acctbal"),
      "Customer#000000040", 20)
  }

  /** orphan-blob reconciliation (reference order.js:420 deleteS3Asset):
    * pointers simulate a partially-migrated table (doc_id % 7 != 0),
    * inventory simulates the store listing (doc_id % 5 != 0) — so both
    * defect classes exist: orphan objects AND dangling pointers */
  val a13 = Q("a13_orphans", Some(s"""
    WITH ptr AS (SELECT $guardedPrefixSql
                 FROM documents WHERE doc_id % 7 <> 0),
    inv AS (SELECT $guardedPrefixSql
            FROM documents WHERE doc_id % 5 <> 0)
    SELECT s3_prefix, 'orphan_object' AS status FROM inv
    WHERE NOT EXISTS (SELECT 1 FROM ptr WHERE ptr.s3_prefix = inv.s3_prefix)
    UNION ALL
    SELECT s3_prefix, 'dangling_pointer' AS status FROM ptr
    WHERE NOT EXISTS (SELECT 1 FROM inv WHERE inv.s3_prefix = ptr.s3_prefix)
    ORDER BY status, s3_prefix""")) { (s, d) =>
    val docs = t(s, d, "documents")
    def prefixes(pred: Column) = Migration.externalize(
      docs.filter(pred), col("doc_id"), col("source"), col("text"))
      .select("s3_prefix")
    Migration.reconcile(
      prefixes(col("doc_id") % 7 =!= 0), "s3_prefix",
      prefixes(col("doc_id") % 5 =!= 0), "s3_prefix")
      .orderBy("status", "s3_prefix")
  }

  /** dual-serving bridge read (reference sites/js/app_bridge.js):
    * records with doc_id % 3 = 0 are already migrated (serve the
    * pointer), the rest still serve the legacy DB blob */
  val a14 = Q("a14_bridge", Some(s"""
    WITH ptr AS (SELECT doc_id,
                   $guardedPrefixSql
                 FROM documents WHERE doc_id % 3 = 0)
    SELECT d.doc_id,
      CASE WHEN p.s3_prefix IS NOT NULL THEN 's3' ELSE 'db' END AS origin,
      coalesce(p.s3_prefix, 'db://' || md5(d.text)) AS locator
    FROM documents d LEFT JOIN ptr p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id""")) { (s, d) =>
    val docs = t(s, d, "documents")
    val pointers = Migration.externalize(
      docs.filter(col("doc_id") % 3 === 0),
      col("doc_id"), col("source"), col("text"))
    Migration.bridgeRead(docs, "doc_id", "text",
      pointers, "record_id", "s3_prefix")
      .orderBy("doc_id")
  }

  /** full keyed MERGE semantics ([[graft.sources.LakeSink.mergedView]]
    * — the computation `LakeSink.mergeKeyed` publishes as a lake
    * generation; reference order.js:675,709 UPDATE/DELETE by PK):
    * updates UPSERT by key (every 7th order re-priced to status 'U'),
    * NEW keys insert (every 13th order cloned past the key space as
    * status 'N'), tombstoned keys drop (o_orderkey % 11 = 3), the
    * rest survive. Output = per-status counts + exact sums over the
    * merged relation. */
  val a15 = Q("a15_merge", Some("""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.05 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, 'N' AS o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0),
    del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 3),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = o.o_orderkey)
        AND NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = o.o_orderkey))
    SELECT o_orderstatus, count(*) AS n,
      CAST(sum(CAST(floor((o_totalprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val base = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
      .unionByName(base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
        .withColumn("o_orderstatus", lit("N")))
    val deletes = base.filter(col("o_orderkey") % 11 === 3)
      .select("o_orderkey")
    graft.sources.LakeSink.mergedView(base, updates, "o_orderkey",
      Some(deletes))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), termSum6(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** table profile ([[Migration.profileColumns]]) — the ANALYZE /
    * observability read: per-column nulls, exact distinct counts,
    * stringified domain bounds over orders' non-double columns. The
    * Spark side is ONE unpivoted scan; the oracle is the k-scan
    * UNION form, so the single-pass plan is hash-checked against the
    * straightforward semantics. */
  val a16 = Q("a16_profile", Some("""
    WITH u AS (
      SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
      UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders)
    SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
      min(v) AS min_s, max(v) AS max_s
    FROM u GROUP BY col_name ORDER BY col_name""")) { (s, d) =>
    val o = t(s, d, "orders")
    Migration.profileColumns(o, Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_orderdate" -> col("o_orderdate").cast("date")))
      .orderBy("col_name")
  }

  /** a16's 100 TB form ([[Migration.profileColumns]] with
    * `approxDistinct = true`): `n_distinct` becomes an HLL++ sketch
    * merge — fixed-size, fully map-side-mergeable, no stringified
    * domain shuffle. Sketch output ⇒ rows-only in the driver gate
    * (q27's pattern); MigrationSpec pins <5% relative error per
    * column against the exact a16 on the same table, and the
    * exact-derivable columns (n_rows, n_null, bounds) are equal by
    * construction. */
  val a17 = Q("a17_profile_approx", None) { (s, d) =>
    val o = t(s, d, "orders")
    Migration.profileColumns(o, Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_orderdate" -> col("o_orderdate").cast("date")),
      approxDistinct = true)
      .orderBy("col_name")
  }

  // int sums CAST AS BIGINT: DuckDB sum() yields HUGEINT, which
  // stringifies differently from Spark's LONG in the driver compare
  val a9 = Q("a9_validate", Some("""
    SELECT doc_id % 16 AS bucket, count(*) AS n,
      CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
      min(doc_id) AS min_id, max(doc_id) AS max_id,
      CAST(sum(instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) AS BIGINT) AS checksum
    FROM documents GROUP BY bucket ORDER BY bucket""")) { (s, d) =>
    Migration.validate(t(s, d, "documents"), "doc_id", "text", 16)
      .orderBy("bucket")
  }

  val a10 = Q("a10_manifest", Some("""
    SELECT source, count(*) AS n_objects,
      CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents GROUP BY source ORDER BY source""")) { (s, d) =>
    Migration.manifest(Migration.externalize(t(s, d, "documents"),
      col("doc_id"), col("source"), col("text")))
      .orderBy("source")
  }

  /** a18: CDC EXTRACTION ([[graft.sources.LakeSink.diffKeyed]]) —
    * the change set between the orders table and its a15-merged
    * state: one row per changed key with op ∈ insert/update/delete
    * and before/after images; unchanged keys (and no-op rewrites)
    * emit nothing, so the feed is churn-sized. The complement of the
    * CDC APPLY side (mergeKeyed / the streaming apply seat): apply
    * turns changes into states, diff turns states back into changes
    * (roundtrip law pinned in LakeSpec); with [[graft.sources.LakeSink.readGeneration]]
    * it derives a change feed between any two retained snapshots.
    * Oracle = the plain FULL OUTER JOIN with IS DISTINCT FROM
    * change predicates. */
  val a18 = Q("a18_diff", Some("""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.05 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, 'N' AS o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0),
    del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 3),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = o.o_orderkey)
        AND NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = o.o_orderkey)),
    b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    a AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged),
    j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
            b.o_orderkey IS NULL AS ins, a.o_orderkey IS NULL AS dele,
            b.o_orderstatus AS before_status, a.o_orderstatus AS after_status,
            b.o_totalprice AS bt, a.o_totalprice AS att
          FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
    SELECT CASE WHEN ins THEN 'insert' WHEN dele THEN 'delete'
             ELSE 'update' END AS op,
      o_orderkey, before_status, after_status,
      floor(bt * 1000000.0 + 0.5) / 1000000.0 AS before_p6,
      floor(att * 1000000.0 + 0.5) / 1000000.0 AS after_p6
    FROM j
    WHERE ins OR dele OR before_status IS DISTINCT FROM after_status
      OR bt IS DISTINCT FROM att
    ORDER BY op, o_orderkey""")) { (s, d) =>
    val base = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
      .unionByName(base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
        .withColumn("o_orderstatus", lit("N")))
    val deletes = base.filter(col("o_orderkey") % 11 === 3)
      .select("o_orderkey")
    val slim = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.LakeSink.diffKeyed(
        base.select(slim.map(col): _*),
        graft.sources.LakeSink.mergedView(base, updates, "o_orderkey",
          Some(deletes)).select(slim.map(col): _*),
        "o_orderkey")
      .select(col("op"), col("o_orderkey"),
        col("before_o_orderstatus").as("before_status"),
        col("after_o_orderstatus").as("after_status"),
        (floor(col("before_o_totalprice") * 1000000.0 + 0.5) / 1000000.0)
          .as("before_p6"),
        (floor(col("after_o_totalprice") * 1000000.0 + 0.5) / 1000000.0)
          .as("after_p6"))
      .orderBy("op", "o_orderkey")
  }

  /** a19: INCREMENTAL MATERIALIZED-VIEW deltas
    * ([[graft.sources.LakeSink.aggDeltas]]) — a18's change feed
    * folded into the per-customer deltas of the classic
    * `count(*), sum(totalprice) GROUP BY custkey` view: insert
    * (+1, +after), delete (−1, −before), update nets to the value
    * delta (and would split across groups if the update moved the
    * row — pinned in LakeSpec). Output ∝ touched GROUPS (≤ churn),
    * never the view or base size; value summed in exact cents so
    * application is replay-order-free. With
    * [[graft.sources.LakeSink.applyAggDeltas]] this is the full
    * incremental pipeline: the view updates from the feed alone —
    * the base table is never rescanned. Oracle = the same change
    * set unioned into ±image rows and re-aggregated. */
  val a19 = Q("a19_mv_delta", Some("""
    WITH upd AS (
      SELECT o_orderkey, o_custkey,
             o_totalprice * 1.05 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0),
    del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 3),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = o.o_orderkey)
        AND NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = o.o_orderkey)),
    b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    ch AS (SELECT b.o_orderkey IS NULL AS ins, a.o_orderkey IS NULL AS dele,
             b.o_custkey AS bg, a.o_custkey AS ag,
             CAST(floor(b.o_totalprice * 100.0 + 0.5) AS BIGINT) AS bc,
             CAST(floor(a.o_totalprice * 100.0 + 0.5) AS BIGINT) AS ac
           FROM b FULL OUTER JOIN merged a ON b.o_orderkey = a.o_orderkey
           WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
             OR b.o_custkey IS DISTINCT FROM a.o_custkey
             OR b.o_totalprice IS DISTINCT FROM a.o_totalprice),
    d AS (
      SELECT bg AS g, CASE WHEN dele THEN -1 ELSE 0 END AS dn, -bc AS dc
      FROM ch WHERE NOT ins
      UNION ALL
      SELECT ag AS g, CASE WHEN ins THEN 1 ELSE 0 END AS dn, ac AS dc
      FROM ch WHERE NOT dele
      UNION ALL
      SELECT bg AS g, -1 AS dn, 0 AS dc
      FROM ch WHERE NOT ins AND NOT dele AND bg IS DISTINCT FROM ag
      UNION ALL
      SELECT ag AS g, 1 AS dn, 0 AS dc
      FROM ch WHERE NOT ins AND NOT dele AND bg IS DISTINCT FROM ag)
    SELECT g AS o_custkey, CAST(sum(dn) AS BIGINT) AS d_n,
      CAST(sum(dc) AS BIGINT) AS d_cents
    FROM d GROUP BY g
    HAVING sum(dn) <> 0 OR sum(dc) <> 0
    ORDER BY o_custkey""")) { (s, d) =>
    val base = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
      .unionByName(base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    val deletes = base.filter(col("o_orderkey") % 11 === 3)
      .select("o_orderkey")
    val changes = graft.sources.LakeSink.diffKeyed(base,
      graft.sources.LakeSink.mergedView(base, updates, "o_orderkey",
        Some(deletes)),
      "o_orderkey")
    graft.sources.LakeSink.aggDeltas(changes, "o_custkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  // range-clustered orders copy for the data-skipping read (a20),
  // built once per corpus ([[graft.Fixture.stamped]]: private build,
  // one atomic rename). 8 range partitions on o_orderdate →
  // each file covers a narrow, mostly-disjoint date slice — the
  // layout HALF of data skipping (fileStats is the stats half).
  private def ensureSortedOrders(s: SparkSession, d: String): String =
    Fixture.stamped("skiplake", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_SUCCESS", "_stats/_SUCCESS",
        "_blooms_o_orderkey/_SUCCESS")) { build =>
      t(s, d, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(build.getPath)
      // the manifests are committed WITH the copy (stats-in-the-commit:
      // they ride the same atomic rename, share the copy's lifetime).
      // o_orderkey joins the stats manifest so a23's demo lookup keys
      // come from PLANNING metadata, never a table scan; its bloom
      // manifest is the membership surface a23 actually prunes with
      graft.sources.Manifest.attachStats(s, build.getPath,
        Seq("o_orderdate", "o_orderkey"))
      graft.sources.Manifest.attachBlooms(s, build.getPath, "o_orderkey")
    }

  /** a20: DATA SKIPPING over file statistics
    * ([[graft.sources.Manifest.fileStats]] +
    * [[graft.sources.Manifest.readPruned]]) — the lakehouse
    * min/max-manifest read: a one-quarter range aggregate answered
    * after eliminating, from the MANIFEST alone, every file whose
    * [min, max] o_orderdate interval cannot intersect the predicate
    * — on the range-clustered copy that is all but ~1 of 8 files
    * before a single data byte moves (LakeSpec pins the file count
    * and that pruning loses nothing). The manifest is one row per
    * FILE — at 100 TB it is MBs and replaces the scan in planning,
    * which is exactly what Delta/Iceberg file stats do. Oracle = the
    * same range aggregate over the unclustered table, so the
    * clustered-write → stats → prune → residual-filter path is
    * hash-checked end to end. */
  val a20 = Q("a20_skipping", Some("""
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1995-03-31 23:59:59'
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    // the manifest was committed WITH the sorted copy — planning
    // reads the few-KB _stats, never re-scans the table for stats
    graft.sources.Manifest.readPrunedDir(s, ensureSortedOrders(s, d),
        Seq(("o_orderdate",
          lit("1995-01-01 00:00:00").cast("timestamp"),
          lit("1995-03-31 23:59:59").cast("timestamp"))))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  // z-order-clustered orders copy for the TWO-column skipping read
  // (a21): interleaved (custkey, order-day) bits cluster BOTH
  // dimensions at once, so each file's min/max is narrow in each —
  // same stamped-tmp/atomic-rename discipline as ensureSortedOrders
  private def ensureZOrderedOrders(s: SparkSession, d: String): String =
    Fixture.stamped("zorder", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_SUCCESS", "_stats/_SUCCESS")) { build =>
      val zk = graft.sources.LakeSink.zOrderKey(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1990-01-01").cast("date")), bits = 20)
      t(s, d, "orders").withColumn("__zk", zk)
        .repartitionByRange(16, col("__zk"))
        .sortWithinPartitions("__zk").drop("__zk")
        .write.mode("overwrite").parquet(build.getPath)
      // manifest committed WITH the copy, under the same rename
      graft.sources.Manifest.attachStats(s, build.getPath,
        Seq("o_custkey", "o_orderdate"))
    }

  /** a21: TWO-DIMENSIONAL data skipping over a Z-ORDER layout
    * ([[graft.sources.LakeSink.zOrderKey]] +
    * [[graft.sources.Manifest.readPrunedMulti]]) — a20's manifest
    * read where the predicate constrains BOTH o_custkey and
    * o_orderdate: the interleaved-bit clustering keeps every file's
    * [min,max] narrow in each dimension simultaneously, so the two
    * predicates eliminate files independently and the read touches
    * ~the intersection box (a single-column sort only ever prunes
    * its own column — LakeSpec pins z-order beating it on the
    * off-sort dimension). Same contract as a20: pruning is a
    * planning decision over the file-count-sized manifest; the
    * residual filter still pushes into surviving row groups; a
    * random layout would prune nothing but never miscount. Oracle =
    * the same two-predicate aggregate over the unclustered table. */
  val a21 = Q("a21_zorder", Some("""
    SELECT count(*) AS n_orders,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'""")) { (s, d) =>
    // committed manifest (stats-in-the-commit) — same contract as a20
    graft.sources.Manifest.readPrunedDir(s, ensureZOrderedOrders(s, d), Seq(
        ("o_custkey", lit(100L), lit(400L)),
        ("o_orderdate", lit("1994-01-01 00:00:00").cast("timestamp"),
          lit("1995-12-31 23:59:59").cast("timestamp"))))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_custs"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
  }

  // same stamped-tmp/atomic-rename discipline as ensureSortedOrders:
  // the copy AND its two tombstone batches build together and publish
  // under one rename (_deletes globs relative to the dir, so the
  // batches survive the rename like the a20 manifest does)
  private def ensureMorOrders(s: SparkSession, d: String): String =
    Fixture.stamped("mor", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_SUCCESS", "_deletes")) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      // batch 1: a key-mod slice; batch 2 keys must be LIVE when
      // landed (softDelete refuses already-deleted keys by name)
      graft.sources.LakeSink.softDeleteDir(s, build.getPath,
        base.filter(col("o_orderkey") % 11 === 3).select("o_orderkey"),
        "o_orderkey")
      graft.sources.LakeSink.softDeleteDir(s, build.getPath,
        base.filter(col("o_orderstatus") === "F" &&
          col("o_orderkey") % 7 === 2 && col("o_orderkey") % 11 =!= 3)
          .select("o_orderkey"),
        "o_orderkey")
    }

  /** a22: MERGE-ON-READ equality deletes
    * ([[graft.sources.LakeSink.softDeleteDir]] + `morRead`) — the
    * DELETE a 100 TB table actually runs: two tombstone batches land
    * as KEY FILES (O(|keys|) I/O each — the data files are never
    * rewritten; LakeSpec pins byte-identical data files), and the
    * read applies them as one broadcast-small anti-join. The
    * copy-on-write alternative (a15's merge machinery with deletes)
    * rewrites the table to drop a fraction of a percent of rows;
    * merge-on-read defers that cost to `compactMor`, which
    * materializes survivors through the standard claim/verify/flip
    * publish and clears the tombstones. Oracle = the same aggregate
    * under the two delete predicates — tombstone land → accumulate →
    * anti-join read is hash-checked end to end. */
  val a22 = Q("a22_mor_delete", Some("""
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE NOT (o_orderkey % 11 = 3)
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 2)
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    graft.sources.LakeSink.morRead(s, ensureMorOrders(s, d), "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** a23: BLOOM-MANIFEST POINT LOOKUP
    * ([[graft.sources.Manifest.fileBlooms]] / `readBloomLookupDir`) —
    * the skipping surface a20's min/max stats CANNOT provide: the
    * table is date-clustered, so every file's [min,max] o_orderkey
    * spans the whole key domain and a range manifest keeps all 8
    * files for any key lookup (LakeSpec pins exactly this); the
    * per-file bloom manifest prunes by MEMBERSHIP instead and the
    * lookup reads ~1 file. This is the 100 TB shape of the
    * reference's `WHERE order_id = ?` point lookup
    * (order_rdbms_blob.js:520) when the table lives in a lake, not
    * an RDBMS. The two demo keys come from the _stats manifest
    * (planning metadata — min/max over per-file min/max), never a
    * table scan; both manifests were committed WITH the sorted copy.
    * Oracle = the same lookups as scalar subqueries over the raw
    * table. */
  val a23 = Q("a23_bloom_lookup", Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
       OR o_orderkey = (SELECT max(o_orderkey) FROM orders)
    ORDER BY o_orderkey""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    val st = graft.sources.Manifest.readHidden(s, s"$dir/_stats")
      .agg(min("min_o_orderkey").as("lo"), max("max_o_orderkey").as("hi"))
      .head()
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    graft.sources.Manifest.readBloomLookupDir(s, dir, "o_orderkey", lit(lo))
      .unionByName(graft.sources.Manifest
        .readBloomLookupDir(s, dir, "o_orderkey", lit(hi)))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
          .as("price_cents"))
      .orderBy("o_orderkey")
  }

  /** a24: the SAME point lookups as a23 through PLAIN
    * `spark.read.parquet(dir).filter(k = v)` — no special read API:
    * [[graft.plans.BloomPruneRule]] sees the equality over the
    * manifest-carrying directory and swaps the relation's file index
    * for the bloom survivors (residual Filter untouched — false
    * positives die on the very predicate that fired the prune, so
    * the rewrite is correctness-neutral BY CONSTRUCTION, which is
    * what sharing a23's oracle hash-proves). CatalystRuleSpec pins
    * the pruning itself (8 files → ≤2), the spark.sql path, and the
    * no-manifest bail. */
  val a24 = Q("a24_bloom_prune_rule", Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
       OR o_orderkey = (SELECT max(o_orderkey) FROM orders)
    ORDER BY o_orderkey""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    val st = graft.sources.Manifest.readHidden(s, s"$dir/_stats")
      .agg(min("min_o_orderkey").as("lo"), max("max_o_orderkey").as("hi"))
      .head()
    s.read.parquet(dir).filter(col("o_orderkey") === st.getLong(0))
      .unionByName(
        s.read.parquet(dir).filter(col("o_orderkey") === st.getLong(1)))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
          .as("price_cents"))
      .orderBy("o_orderkey")
  }

  /** a25: PAGED point lookups — `o_orderkey IN (k1, k2, …)` through
    * PLAIN `spark.read.parquet(dir).filter(isin(...))` with
    * [[graft.plans.BloomPruneRule]]'s IN-list extension: the rule
    * unions each value's bloom survivors over ONE memoized manifest
    * pass and swaps the file index, so the multi-key lookup the
    * reference pages through (order_rdbms_blob.js:520 — the keyset
    * page IS an IN-list of PKs) reads ~|list| files instead of the
    * table. One probe key is deliberately ABSENT (-1): it survives
    * nowhere and costs nothing, and the oracle (the same IN over the
    * raw table) hash-proves the union's completeness. */
  val a25 = Q("a25_bloom_in_rule", Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey IN ((SELECT min(o_orderkey) FROM orders),
                         (SELECT max(o_orderkey) FROM orders), -1)
    ORDER BY o_orderkey""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    val st = graft.sources.Manifest.readHidden(s, s"$dir/_stats")
      .agg(min("min_o_orderkey").as("lo"), max("max_o_orderkey").as("hi"))
      .head()
    s.read.parquet(dir)
      .filter(col("o_orderkey").isin(st.getLong(0), st.getLong(1), -1L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
          .as("price_cents"))
      .orderBy("o_orderkey")
  }

  /** a26: a20's RANGE skipping through PLAIN `spark.sql` — no
    * special read API: [[graft.plans.StatsPruneRule]] folds the two
    * date conjuncts into one interval box, reads the committed
    * `_stats` manifest (file-count-sized, LRU-memoized), and keeps
    * only the files whose [min, max] o_orderdate can intersect — on the range-clustered copy ~1 of 8
    * files, decided before a data byte moves. The residual Filter
    * stays, so the rewrite is correctness-neutral by construction —
    * sharing a20's oracle hash-proves it (explicit readPrunedDir ≡
    * planner-pruned plain read ≡ the unclustered truth). */
  val a26 = Q("a26_stats_prune_rule", Some("""
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1995-03-31 23:59:59'
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    s.read.parquet(dir)
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1995-03-31 23:59:59").cast("timestamp"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  // table copy with TWO delete-snapshot generations (r13: softDelete
  // publishes a snapshot per delete batch) — stamped build-once dir;
  // the catalog registration is per-session, the directory is not.
  // Layout: <root>/t (data gen 0, catalog location), <root>/t.g1 and
  // <root>/t.g2 (the published delete snapshots, siblings by the
  // generation naming rule).
  private def ensureTravelOrders(s: SparkSession, d: String): String =
    Fixture.stamped("travel", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "t/_SUCCESS", "t.g2/_published_delete")) { build =>
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      base.repartition(4).write.mode("overwrite")
        .parquet(new java.io.File(build, "t").getPath)
      // the deletes run against the BUILD dir's registration, so the
      // snapshot generations land as its siblings and travel with it
      s.sql("DROP TABLE IF EXISTS a27_travel_build")
      graft.sources.LakeSink.registerExternal(s, "a27_travel_build",
        new java.io.File(build, "t").getPath)
      graft.sources.LakeSink.softDelete(s, "a27_travel_build",
        base.filter(col("o_orderkey") % 11 === 3).select("o_orderkey"),
        "o_orderkey")
      graft.sources.LakeSink.softDelete(s, "a27_travel_build",
        base.filter(col("o_orderstatus") === "F" &&
            col("o_orderkey") % 7 === 2 && col("o_orderkey") % 11 =!= 3)
          .select("o_orderkey"),
        "o_orderkey")
      s.sql("DROP TABLE IF EXISTS a27_travel_build")
    }

  /** a27: the CHANGE FEED BETWEEN RETAINED SNAPSHOTS, across DELETE
    * generations (r13 — tombstones are commits): each
    * [[graft.sources.LakeSink.softDelete]] published a snapshot
    * generation, so [[graft.sources.LakeSink.diffKeyed]] over
    * [[graft.sources.LakeSink.readGeneration]] pairs recovers each
    * delete batch as an op='delete' feed — per snapshot, not merely
    * base-vs-final (a18 is the pure-relation diff; this is the same
    * CDC surface driven by the PHYSICAL snapshot history, proving
    * travel shows rows before their delete and hides them after).
    * gen0→gen1 yields exactly batch 1, gen1→gen2 exactly batch 2 —
    * churn-sized both times: the diff join's sides are
    * tombstone-count apart, never table-vs-table rescans of
    * unchanged data. Oracle = the two delete predicates over the raw
    * table, hash-proving the whole land-batch → publish-snapshot →
    * travel → diff pipeline. */
  val a27 = Q("a27_travel_diff", Some("""
    WITH b1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey % 11 = 3),
      b2 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderstatus = 'F'
               AND o_orderkey % 7 = 2 AND o_orderkey % 11 <> 3)
    SELECT CAST(0 AS BIGINT) AS from_gen, 'delete' AS op, o_orderkey,
      o_orderstatus AS before_status,
      floor(o_totalprice * 1000000.0 + 0.5) / 1000000.0 AS before_p6
    FROM b1
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', o_orderkey, o_orderstatus,
      floor(o_totalprice * 1000000.0 + 0.5) / 1000000.0
    FROM b2
    ORDER BY from_gen, o_orderkey""")) { (s, d) =>
    val root = ensureTravelOrders(s, d)
    s.sql("DROP TABLE IF EXISTS a27_travel")
    graft.sources.LakeSink.registerExternal(s, "a27_travel",
      new java.io.File(root, "t").getPath)
    def feed(g0: Long, g1: Long): DataFrame =
      graft.sources.LakeSink.diffKeyed(
          graft.sources.LakeSink.readGeneration(s, "a27_travel", g0),
          graft.sources.LakeSink.readGeneration(s, "a27_travel", g1),
          "o_orderkey")
        .select(lit(g0).as("from_gen"), col("op"), col("o_orderkey"),
          col("before_o_orderstatus").as("before_status"),
          (floor(col("before_o_totalprice") * 1000000.0 + 0.5) / 1000000.0)
            .as("before_p6"))
    feed(0L, 1L).unionByName(feed(1L, 2L)).orderBy("from_gen", "o_orderkey")
  }

  /** a28: the LAKEHOUSE HEADLINE COMPOSED — z-order layout ×
    * planner stats pruning, through PLAIN `spark.sql`: a21's box
    * predicate (both z-order dimensions at once) over the z-ordered
    * copy under [[graft.plans.StatsPruneRule]] folds BOTH
    * range conjuncts into one per-column interval box and keeps ~the
    * intersection files — `readPrunedMulti`'s two-dimensional
    * decision made by the optimizer, no special read API. This is
    * the end state the whole layout tier builds toward: cluster on
    * `zOrderKeyN`, commit `_stats` in the publish, and EVERY
    * ordinary query on any clustered dimension prunes at plan time.
    * Shares a21's oracle — explicit pruned read ≡ planner-pruned
    * plain read ≡ the unclustered truth, hash-proved. */
  val a28 = Q("a28_zorder_sql_prune", Some("""
    SELECT count(*) AS n_orders,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'""")) { (s, d) =>
    val dir = ensureZOrderedOrders(s, d)
    s.read.parquet(dir)
      .filter(col("o_custkey") >= 100L && col("o_custkey") <= 400L &&
        col("o_orderdate") >= lit("1994-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1995-12-31 23:59:59").cast("timestamp"))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_custs"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
  }

  /** a29: a22's MERGE-ON-READ view through PLAIN `spark.read.parquet`
    * — the resurrection hole closed where it lived: the scan is a
    * plain read, not `morRead`, and [[graft.plans.TombstoneApplyRule]]
    * injects the tombstone anti-join over it (broadcast, delete-sized
    * — the exact plan morRead builds explicitly, the PLAN'S default,
    * the way Delta applies deletion vectors in scan planning). The
    * reference deletes a row and its object in lockstep and expects
    * neither to ever serve again (order.js:675); a GDPR erasure
    * followed by any plain SQL stays erased. Shares a22's oracle —
    * plain read ≡ explicit merge-on-read view ≡ the delete predicates
    * over the raw table, hash-proved (time travel reads as-published
    * via explicit file lists; LakeSpec pins travel + refusal +
    * compaction). */
  val a29 = Q("a29_mor_sql_rule", Some("""
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE NOT (o_orderkey % 11 = 3)
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 2)
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val dir = ensureMorOrders(s, d)
    s.read.parquet(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** a30: COMPOSED manifest pruning — ONE plain scan carrying BOTH a
    * bloom-equality conjunct and a stats-range conjunct: the optimizer
    * intersects the `_blooms_o_orderkey` survivors with the `_stats`
    * o_orderdate survivors on the same relation (the r13 rules were mutually exclusive per scan — the
    * marker now carries a per-rule ledger, so `WHERE k = v AND dt
    * BETWEEN a AND b` reads ≤ min(both dimensions) files). The probe
    * key comes from planning metadata (a23's discipline) and the date
    * box is ±15 days around that row's own date, fetched through the
    * bloom-pruned lookup — every input to the composed read is
    * metadata-sized. Oracle = the same derivation in SQL over the raw
    * table, hash-proving the intersection loses nothing. */
  val a30 = Q("a30_prune_compose", Some("""
    WITH k AS (SELECT min(o_orderkey) AS mk FROM orders),
      t AS (SELECT min(o_orderdate) AS d0 FROM orders
            WHERE o_orderkey = (SELECT mk FROM k))
    SELECT o_orderkey, o_custkey, o_orderstatus,
      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
    FROM orders, k, t
    WHERE o_orderkey = k.mk
      AND o_orderdate >= t.d0 - INTERVAL 15 DAY
      AND o_orderdate <= t.d0 + INTERVAL 15 DAY
    ORDER BY o_orderkey""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    val mk = graft.sources.Manifest.readHidden(s, s"$dir/_stats")
      .agg(min("min_o_orderkey")).head().getLong(0)
    // the row's own date through the bloom-pruned point lookup
    // (TIMESTAMP_NTZ column — the tables' uniform timestamp type)
    val d0 = s.read.parquet(dir).filter(col("o_orderkey") === mk)
      .agg(min("o_orderdate")).head()
      .getAs[java.time.LocalDateTime](0)
    val (lo, hi) = (d0.minusDays(15), d0.plusDays(15))
    s.read.parquet(dir)
      .filter(col("o_orderkey") === mk &&
        col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
          .as("price_cents"))
      .orderBy("o_orderkey")
  }

  /** a31: IN-list skipping WITHOUT a bloom — [[graft.plans
    * .StatsPruneRule]]'s point-interval union over the `_stats`
    * manifest: on a date-clustered copy, `o_orderdate IN (d1, d2)`
    * keeps only the files whose [min, max] contains at least one of
    * the probe dates (~2 of 8), so a sorted-but-never-bloomed
    * directory gets IN pruning from the manifest it already has (the
    * r13 rule ignored In — a25 needed the bloom). Probes are the
    * global min/max dates, from planning metadata. Oracle = the same
    * IN over the raw table via scalar subqueries. */
  val a31 = Q("a31_stats_in_rule", Some("""
    SELECT CAST(o_orderdate AS DATE) AS odate, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_orderdate IN ((SELECT min(o_orderdate) FROM orders),
                          (SELECT max(o_orderdate) FROM orders))
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val dir = ensureSortedOrders(s, d)
    val st = graft.sources.Manifest.readHidden(s, s"$dir/_stats")
      .agg(min("min_o_orderdate").as("lo"), max("max_o_orderdate").as("hi"))
      .head()
    s.read.parquet(dir)
      .filter(col("o_orderdate").isin(st.getAs[Any](0), st.getAs[Any](1)))
      .groupBy(col("o_orderdate").cast("date").as("odate"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("odate")
  }

  // HIVE-PARTITIONED copy of orders (o_orderstatus dirs, date-sliced
  // files within each) with the `_stats` manifest committed at the
  // root — the most common lake layout; same stamped-build/rename
  // discipline as ensureSortedOrders
  private def ensurePartitionedOrders(s: SparkSession, d: String): String =
    Fixture.stamped("partlake", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_SUCCESS", "_stats/_SUCCESS")) { build =>
      t(s, d, "orders")
        .repartitionByRange(12, col("o_orderstatus"), col("o_orderdate"))
        .sortWithinPartitions("o_orderstatus", "o_orderdate")
        .write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(build.getPath)
      graft.sources.Manifest.attachStats(s, build.getPath,
        Seq("o_orderdate"))
    }

  /** a32: PARTITION PRUNING × MANIFEST PRUNING on a hive-partitioned
    * table — the most common lake layout, which the r13 rules bailed
    * on entirely (`partitionSchema.isEmpty`): a status-partitioned,
    * date-sliced copy answers `status = 'F' AND date BETWEEN …`
    * through plain reads under [[graft.plans.StatsPruneRule]] — the
    * marker index carries the partition SPEC, so the swapped
    * file list keeps its partition values and the scan's own
    * partition pruning composes on top: files actually read ≈
    * (partition survivors ∩ `_stats` date survivors), each decided
    * from metadata (CatalystRuleSpec plan-counts it ≤ 2 of 16 on the
    * controlled fixture). Oracle = the same predicates over the raw
    * table. */
  val a32 = Q("a32_part_prune", Some("""
    SELECT count(*) AS n_orders,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1995-03-31 23:59:59'""")) { (s, d) =>
    val dir = ensurePartitionedOrders(s, d)
    s.read.parquet(dir)
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp_ntz") &&
        col("o_orderdate") <= lit("1995-03-31 23:59:59").cast("timestamp_ntz"))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_custs"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
  }

  // same stamped-tmp/atomic-rename discipline as ensureMorOrders: the
  // copy, its two UPDATE-log batches, and the upsert-view delete all
  // build together and publish under one rename (_updates/_deletes
  // glob relative to the dir, so the logs survive the rename)
  private def ensureUpsertOrders(s: SparkSession, d: String): String =
    // validity includes the r15 delete-feed artifact: a fixture built
    // by an older round carries pre-feed `b-<tag>` batches and a43's
    // change feed would silently miss its delete events
    Fixture.stamped("ups", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.has(dir, "_SUCCESS", "_updates") &&
        Option(new java.io.File(dir, "_deletes").listFiles())
          .getOrElse(Array.empty).exists(b => b.getName.startsWith("b-") &&
            Fixture.has(b, "_feed"))) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val mk = base.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      // batch 1: update the %13 slice (status 'U', priority re-tagged)
      // AND insert key-shifted clones of the %97 slice (status 'N') —
      // one mixed update+insert batch, the production shape
      graft.sources.LakeSink.softUpsertDir(s, build.getPath,
        base.filter(k % 13 === 1)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_orderpriority",
            concat(lit("U-"), col("o_orderpriority")))
          .unionByName(base.filter(k % 97 === 5)
            .withColumn("o_orderkey", k + mk)
            .withColumn("o_orderstatus", lit("N"))),
        "o_orderkey")
      // batch 2: RE-update the %26 slice (⊂ %13) — latest wins
      graft.sources.LakeSink.softUpsertDir(s, build.getPath,
        base.filter(k % 26 === 1)
          .withColumn("o_orderstatus", lit("W"))
          .withColumn("o_orderpriority",
            concat(lit("W-"), col("o_orderpriority"))),
        "o_orderkey")
      // delete the %17 slice OF THE UPSERT VIEW — base rows, updated
      // rows, and log-inserted rows alike (the base-view delete
      // would refuse the inserted keys as not-live)
      graft.sources.LakeSink.softDeleteUpsertDir(s, build.getPath,
        graft.sources.LakeSink.morReadUpsertDir(s, build.getPath, "o_orderkey")
          .filter(k % 17 === 3).select("o_orderkey"),
        "o_orderkey")
    }

  /** a33: MERGE-ON-READ UPSERTS
    * ([[graft.sources.LakeSink.softUpsertDir]] / `morReadUpsertDir` /
    * `softDeleteUpsertDir`) — the UPDATE a 100 TB table actually
    * runs (the reference updates an order row in place,
    * lambda_fns/order.js:596-650; at lake scale a row update must
    * not rewrite the table): two full-row update batches land as an
    * O(|batch|) log under `_updates/` — a mixed update+insert batch,
    * then a re-update of half its keys — and an upsert-view DELETE
    * lands over both. The read folds the log (LATEST landed version
    * per key wins; base rows are version 0) and applies tombstones
    * last, paying one broadcast anti-join on the base; updates can
    * never race deletes because pending-tombstoned keys REFUSE to
    * upsert. Oracle = the folded view reconstructed in SQL: CASE
    * picks each key's surviving version, the insert branch unions
    * key-shifted clones, the delete slice filters both — landed log
    * → window fold → anti-join is hash-checked end to end. */
  // shared by a33 (explicit morReadUpsertDir) and a36 (plain read
  // under TombstoneApplyRule's upsert fold) — one truth, two paths
  private val a33OracleSql = """
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 26 = 1 THEN 'W'
             WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        CASE WHEN o_orderkey % 26 = 1 THEN 'W-' || o_orderpriority
             WHEN o_orderkey % 13 = 1 THEN 'U-' || o_orderpriority
             ELSE o_orderpriority END AS pri
      FROM orders
      UNION ALL
      SELECT o_orderkey + mx.mk, 'N',
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT), o_orderpriority
      FROM orders CROSS JOIN mx WHERE o_orderkey % 97 = 5
    )
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v WHERE NOT (k % 17 = 3)
    GROUP BY status ORDER BY status"""

  private def upsertViewAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"),
        count_distinct(col("o_orderpriority")).as("n_pri"))
      .orderBy("status")

  val a33 = Q("a33_mor_upsert", Some(a33OracleSql)) { (s, d) =>
    upsertViewAgg(graft.sources.LakeSink
      .morReadUpsertDir(s, ensureUpsertOrders(s, d), "o_orderkey"))
  }

  /** a36: THE UPSERT LOG APPLIED BY THE PLANNER (a33's plain-read
    * contract — [[graft.plans.TombstoneApplyRule]]'s upsert fold):
    * without it, `spark.read.parquet(dir)` over an `_updates`-carrying
    * table serves STALE rows and misses log inserts — the UPDATE
    * sibling of the r13 tombstone-resurrection hole (closed as a29).
    * The eligible scan rewrites to
    * `(base ⟕̸ updKeys∪tombs) ∪ (latest minus tombs)` — exactly
    * `morReadUpsertDir`'s fold, the PLAN's default; the
    * key comes from the log's committed `_updates/_key` marker, a
    * key-less scan refuses by name, and the explicit APIs read by
    * file list so the fold can never stack twice. Shares a33's
    * oracle: plain read ≡ explicit view ≡ the SQL reconstruction,
    * hash-proved. */
  val a36 = Q("a36_mor_upsert_sql_rule", Some(a33OracleSql)) { (s, d) =>
    upsertViewAgg(s.read.parquet(ensureUpsertOrders(s, d)))
  }

  // the a34 rule set — the SAME predicate text runs as Spark SQL in
  // the gate and as DuckDB SQL in the oracle (Expect.Rule's contract)
  private val expectRules = Seq(
    graft.sources.Expect.Rule("not_urgent",
      "o_orderpriority NOT LIKE '%URGENT%'"),
    graft.sources.Expect.Rule("price_cap", "o_totalprice < 200000.0"),
    graft.sources.Expect.Rule("status_known", "o_orderstatus IN ('F','O')"))

  private def ensureExpectOrders(s: SparkSession, d: String): String =
    Fixture.stamped("exp", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_quarantine")) { build =>
      build.mkdirs()
      val base = t(s, d, "orders")
      // two epochs (key parity) — the gate is a per-batch write, so
      // the fixture exercises the multi-batch read path too
      graft.sources.Expect.writeExpect(s, build.getPath, 1L,
        base.filter(col("o_orderkey") % 2 === 0), expectRules)
      graft.sources.Expect.writeExpect(s, build.getPath, 2L,
        base.filter(col("o_orderkey") % 2 === 1), expectRules)
    }

  /** a34: WRITE-SIDE EXPECTATIONS WITH QUARANTINE
    * ([[graft.sources.Expect.writeExpect]] — Delta Live Tables'
    * `expect_or_drop` as a lake surface): the reference REJECTS
    * malformed orders at the write (order.js:596-650 answers 400);
    * at 100 TB the writer is a batch, and a silently-dropped bad row
    * is an unfindable bug — so violators land in `_quarantine/` with
    * the names of every rule they broke, exactly-once under the same
    * batch id as the valid landing. One codegen'd pass per batch, no
    * shuffle. The query audits the whole gate: committed-valid
    * total, quarantine total, per-rule violation counts from the
    * exploded `_violated` names; oracle recomputes each from the raw
    * table under the same predicate text — gate, landing, and audit
    * read are hash-checked end to end. */
  val a34 = Q("a34_expectations", Some("""
    WITH viol AS (
      SELECT 'not_urgent' AS rule FROM orders
        WHERE NOT coalesce(o_orderpriority NOT LIKE '%URGENT%', FALSE)
      UNION ALL
      SELECT 'price_cap' FROM orders
        WHERE NOT coalesce(o_totalprice < 200000.0, FALSE)
      UNION ALL
      SELECT 'status_known' FROM orders
        WHERE NOT coalesce(o_orderstatus IN ('F','O'), FALSE)
    ),
    pr AS (SELECT rule, count(*) AS n_rows FROM viol GROUP BY rule),
    tot AS (
      SELECT '_valid' AS rule, count(*) AS n_rows FROM orders
        WHERE coalesce(o_orderpriority NOT LIKE '%URGENT%', FALSE)
          AND coalesce(o_totalprice < 200000.0, FALSE)
          AND coalesce(o_orderstatus IN ('F','O'), FALSE)
      UNION ALL
      SELECT '_quarantined', count(*) FROM orders
        WHERE NOT (coalesce(o_orderpriority NOT LIKE '%URGENT%', FALSE)
          AND coalesce(o_totalprice < 200000.0, FALSE)
          AND coalesce(o_orderstatus IN ('F','O'), FALSE))
    )
    SELECT rule, CAST(n_rows AS BIGINT) AS n_rows
    FROM (SELECT * FROM pr UNION ALL SELECT * FROM tot)
    ORDER BY rule""")) { (s, d) =>
    import s.implicits._
    val dir = ensureExpectOrders(s, d)
    val nValid = graft.sources.LakeSink.readBatches(s, dir).count()
    val nQuar = graft.sources.Expect.readQuarantine(s, dir).count()
    graft.sources.Expect.violationCounts(s, dir)
      .unionByName(Seq(("_valid", nValid), ("_quarantined", nQuar))
        .toDF("rule", "n_rows"))
      .orderBy("rule")
  }

  // a35's history: gen0 = the base table, gen1 = a fat-fingered
  // delete snapshot, gen2 = the RESTORE to gen0 (a data generation —
  // the fixture re-registers at ITS dir, the live pointer after the
  // build), gen3 = a deliberate post-restore delete. All built as
  // siblings of build/t so one rename publishes the whole history.
  private def ensureRestoreOrders(s: SparkSession, d: String): String =
    Fixture.stamped("restore", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "t.g2/_SUCCESS", "t.g3/_published_delete")) { build =>
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      base.repartition(4).write.mode("overwrite")
        .parquet(new java.io.File(build, "t").getPath)
      s.sql("DROP TABLE IF EXISTS a35_restore_build")
      graft.sources.LakeSink.registerExternal(s, "a35_restore_build",
        new java.io.File(build, "t").getPath)
      // the fat-fingered delete (gen1), recovered by restore (gen2)
      graft.sources.LakeSink.softDelete(s, "a35_restore_build",
        base.filter(col("o_orderkey") % 11 === 3).select("o_orderkey"),
        "o_orderkey")
      graft.sources.LakeSink.restoreGeneration(s, "a35_restore_build", 0L)
      // the deliberate post-restore delete (gen3) — applies to the
      // RESTORED content, proving the resurrection really published
      graft.sources.LakeSink.softDelete(s, "a35_restore_build",
        base.filter(col("o_orderstatus") === "O" &&
          col("o_orderkey") % 7 === 2).select("o_orderkey"),
        "o_orderkey")
      s.sql("DROP TABLE IF EXISTS a35_restore_build")
    }

  /** a35: RESTORE AS A NEW COMMIT
    * ([[graft.sources.LakeSink.restoreGeneration]] — Delta's
    * `RESTORE TABLE ... TO VERSION`, the recovery surface): a
    * fat-fingered delete (gen1) is undone by PUBLISHING gen0's
    * content as gen2 through the standard claim/verify/flip — history
    * only moves forward, the bad snapshot stays readable for the
    * post-mortem, and a LATER deliberate delete (gen3) applies to the
    * restored content. The live merge-on-read view is therefore
    * "original table minus ONLY the post-restore delete" — which is
    * exactly what the oracle states over the raw data: the %11 slice
    * is back (hash-proves the resurrection published), the
    * status-'O'-%7 slice is gone (hash-proves deletes compose on the
    * restored generation). */
  val a35 = Q("a35_restore", Some("""
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders
    WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 7 = 2)
    GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, d) =>
    val root = ensureRestoreOrders(s, d)
    s.sql("DROP TABLE IF EXISTS a35_restore")
    graft.sources.LakeSink.registerExternal(s, "a35_restore",
      new java.io.File(root, "t.g2").getPath)
    graft.sources.LakeSink.readMor(s, "a35_restore", "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** a37: CHANGE DATA FEED FROM THE UPDATE LOG
    * ([[graft.sources.LakeSink.upsertFeed]] — Delta's
    * `table_changes` for the upsert tier): every landed batch
    * replays as (batch_seq, op, new-row-version) rows, with
    * op = insert iff the key was not visible before the batch —
    * derived at O(|log|) cost (the base is scanned once, key column
    * only, semi-joined to the log's keys; a18/a27's snapshot diffs
    * are the table-sized alternative this replaces when the log is
    * the source of truth). Downstream consumers — the incremental MV
    * tier, audit, replication — read the feed instead of diffing
    * 100 TB twice. Oracle = the fixture's landed history restated
    * per (batch, op) over the raw table: batch 1 = the %13 updates +
    * the %97 key-shifted inserts, batch 2 = the %26 re-updates
    * (every one an update — including re-updates of keys batch 1
    * INSERTED, the first-visibility rule). The post-log DELETE
    * never appears: the feed replays the write history of the log,
    * not the view (deletes ride a27's snapshot feed). */
  val a37 = Q("a37_upsert_feed", Some("""
    SELECT CAST(1 AS BIGINT) AS batch_seq, 'update' AS op,
      count(*) AS n_rows,
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents
    FROM orders WHERE o_orderkey % 13 = 1
    UNION ALL
    SELECT 1, 'insert', count(*),
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 97 = 5
    UNION ALL
    SELECT 2, 'update', count(*),
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 26 = 1
    ORDER BY batch_seq, op""")) { (s, d) =>
    graft.sources.LakeSink
      .upsertFeed(s, ensureUpsertOrders(s, d), "o_orderkey")
      .groupBy(col("batch_seq"), col("op"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("batch_seq", "op")
  }

  // a38's fixture: a STATUS-PARTITIONED copy with an update batch
  // that MOVES rows across partitions (status → 'U') plus an
  // upsert-view delete — the layout trap copy-on-write engines pay a
  // directory rewrite for
  private def ensurePartUpsertOrders(s: SparkSession, d: String): String =
    Fixture.stamped("pups", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_updates")) { build =>
      val base = t(s, d, "orders")
      graft.sources.LakeSink.writeParquet(base, build.getPath,
        Seq("o_orderstatus"))
      val k = col("o_orderkey")
      // the batch schema mirrors the PARTITIONED read's column order
      // (partition column last) — softUpsertDir normalizes anyway
      graft.sources.LakeSink.softUpsertDir(s, build.getPath,
        base.filter(k % 13 === 1)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_orderpriority",
            concat(lit("U-"), col("o_orderpriority"))),
        "o_orderkey")
      graft.sources.LakeSink.softDeleteUpsertDir(s, build.getPath,
        graft.sources.LakeSink
          .morReadUpsertDir(s, build.getPath, "o_orderkey")
          .filter(k % 17 === 3).select("o_orderkey"),
        "o_orderkey")
    }

  /** a38: PARTITIONED UPSERT LOG THROUGH THE PLANNER (r14 — the
    * composition a36's first cut refused: hive partitioning × the
    * update log): the status-partitioned copy takes an update batch
    * that MOVES rows across partitions (status → 'U') — on a
    * copy-on-write engine that move rewrites directories; here the
    * old version hides by KEY and the new one serves from the
    * O(|batch|) log, no directory touched until compaction. Plain
    * `spark.read.parquet(dir)` under the rule folds the log over the
    * partition-discovered scan (the marker index threads the
    * partition spec, a32's machinery), and the partition-column
    * predicate composes: pruning on the scan side, an ordinary
    * filter on the log side of the union. The explicit APIs stay
    * rule-proof via the basePath-anchored multi-root file list.
    * Oracle = the moved/deleted history restated over the raw table,
    * restricted to the F/U slice the predicate names. */
  val a38 = Q("a38_part_upsert", Some("""
    WITH v AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 13 = 1 THEN 'U' ELSE o_orderstatus END AS st,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        CASE WHEN o_orderkey % 13 = 1 THEN 'U-' || o_orderpriority
             ELSE o_orderpriority END AS pri
      FROM orders)
    SELECT st AS status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v WHERE NOT (k % 17 = 3) AND st IN ('F', 'U')
    GROUP BY st ORDER BY st""")) { (s, d) =>
    val dir = ensurePartUpsertOrders(s, d)
    upsertViewAgg(s.read.parquet(dir)
      .filter(col("o_orderstatus").isin("F", "U")))
  }

  /** a39: FEED PREIMAGES ([[graft.sources.LakeSink
    * .upsertFeedPreimage]] — Delta CDF's `update_preimage`/
    * `update_postimage` pair): each feed row carries the version the
    * batch REPLACED alongside the new one — the retraction input an
    * incremental MV or rollback-capable replica needs (a37's feed
    * alone can only add; subtracting requires the before-image). The
    * proof burden is the re-update: batch 2's preimage must be BATCH
    * 1's version (priority 'U-…'), never the base row — exactly what
    * the oracle's third branch states; inserts carry all-NULL
    * preimages (distinct-count 0). One window over
    * (base-rows-for-log-keys ∪ log) per key in landed order — the
    * base pays one semi-joined pass, partitions are
    * versions-per-key-sized. */
  val a39 = Q("a39_feed_preimage", Some("""
    SELECT CAST(1 AS BIGINT) AS batch_seq, 'update' AS op,
      count(*) AS n_rows,
      CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_before_pri,
      CAST(count(DISTINCT 'U-' || o_orderpriority) AS BIGINT) AS n_after_pri
    FROM orders WHERE o_orderkey % 13 = 1
    UNION ALL
    SELECT 1, 'insert', count(*), CAST(0 AS BIGINT),
      CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders WHERE o_orderkey % 97 = 5
    UNION ALL
    SELECT 2, 'update', count(*),
      CAST(count(DISTINCT 'U-' || o_orderpriority) AS BIGINT),
      CAST(count(DISTINCT 'W-' || o_orderpriority) AS BIGINT)
    FROM orders WHERE o_orderkey % 26 = 1
    ORDER BY batch_seq, op""")) { (s, d) =>
    graft.sources.LakeSink
      .upsertFeedPreimage(s, ensureUpsertOrders(s, d), "o_orderkey")
      .groupBy(col("batch_seq"), col("op"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("before_o_orderpriority")).as("n_before_pri"),
        count_distinct(col("o_orderpriority")).as("n_after_pri"))
      .orderBy("batch_seq", "op")
  }

  private def ensureGatedUpsertOrders(s: SparkSession, d: String): String =
    Fixture.stamped("gups", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_quarantine")) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      // the CDC batch: re-status the %13 slice — rows breaking the
      // price gate quarantine instead of corrupting the table
      graft.sources.Expect.upsertExpect(s, build.getPath, 1L,
        base.filter(col("o_orderkey") % 13 === 1)
          .withColumn("o_orderstatus", lit("U")),
        "o_orderkey",
        Seq(graft.sources.Expect.Rule("price_cap",
          "o_totalprice < 150000.0")))
    }

  /** a40: EXPECTATIONS-GATED UPSERT
    * ([[graft.sources.Expect.upsertExpect]] — a34 × a33, the CDC
    * quality gate): an update stream carries garbage like any other
    * ingest, and a bad UPDATE is worse than a bad insert — it
    * silently corrupts a row that was fine. The rule set gates the
    * batch BEFORE it touches the log: valid updates land (one atomic
    * log batch), violators quarantine with the broken rule named,
    * and the gated row keeps serving its LAST GOOD version — which
    * is exactly what the oracle states: status moves to 'U' only
    * where the gate passed, the quarantined slice aggregates
    * separately, and the whole composition is exactly-once under the
    * batch id. */
  val a40 = Q("a40_gated_upsert", Some("""
    WITH v AS (
      SELECT CASE WHEN o_orderkey % 13 = 1 AND o_totalprice < 150000.0
                  THEN 'U' ELSE o_orderstatus END AS st,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders)
    SELECT st AS status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v GROUP BY st
    UNION ALL
    SELECT '_quarantined', count(*),
      CAST(coalesce(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)),
        0) AS BIGINT)
    FROM orders
    WHERE o_orderkey % 13 = 1 AND NOT (o_totalprice < 150000.0)
    ORDER BY status""")) { (s, d) =>
    import s.implicits._
    val dir = ensureGatedUpsertOrders(s, d)
    graft.sources.LakeSink.morReadUpsertDir(s, dir, "o_orderkey")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .unionByName(graft.sources.Expect.readQuarantine(s, dir)
        .agg(count(lit(1)).as("n_orders"),
          coalesce(sum(floor(col("o_totalprice") * 100.0 + 0.5)
            .cast("long")), lit(0L)).as("sum_cents"))
        .select(lit("_quarantined").as("status"), col("n_orders"),
          col("sum_cents")))
      .orderBy("status")
  }

  private def ensureDmlOrders(s: SparkSession, d: String): String =
    Fixture.stamped("dml", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_updates", "_deletes")) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val bp = build.getPath
      // the key registered AHEAD of the first statement — what every
      // DML route resolves "latest wins" against
      graft.sources.LakeSink.registerKeyDir(s, bp, "o_orderkey")
      // 1. UPDATE — RHS evaluates against the OLD row; lands as one
      //    upsert-log batch (the table is never rewritten)
      s.sql(s"UPDATE parquet.`$bp` SET o_orderstatus = 'U', " +
        "o_totalprice = o_totalprice + 1000.0 WHERE o_orderkey % 13 = 1")
      // 2. MERGE — matched keys (the %41 slice) replace their FULL row
      //    with the source version (including the price the UPDATE
      //    just raised — SET * means the source wins), unmatched keys
      //    (the key-shifted clones) insert
      val mk = base.agg(max("o_orderkey")).head().getLong(0)
      base.filter(col("o_orderkey") % 97 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + mk)
        .withColumn("o_orderstatus", lit("N"))
        .unionByName(base.filter(col("o_orderkey") % 41 === 7)
          .withColumn("o_orderstatus", lit("M")))
        .createOrReplaceTempView("a41_src")
      s.sql(s"MERGE INTO parquet.`$bp` AS t USING a41_src AS u " +
        "ON t.o_orderkey = u.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      // 3. DELETE — keys resolve against the UPSERT view (clones are
      //    deletable too), landing as an O(|keys|) tombstone batch
      s.sql(s"DELETE FROM parquet.`$bp` WHERE o_orderkey % 17 = 3")
    }

  /** a41: SQL DML ROUTED TO THE MERGE-ON-READ LOG
    * ([[graft.plans.GraftSqlParser]] via `injectParser` — the
    * reference's write surface IS SQL DML: lambda_fns/order.js:596-709
    * issues literal UPDATE/DELETE statements): three statements —
    * UPDATE (assignments against the old row), MERGE INTO (SET * /
    * INSERT *: matched full-row replace + unmatched insert), DELETE
    * FROM (predicate → keys → tombstones) — are issued as SQL STRINGS
    * against a path-addressed lake table and land as churn-sized log
    * batches; the 100 TB base is never rewritten. Oracle restates all
    * three mutations over the raw table (CASE per key slice, clone
    * union, delete filter) — parse, route, land, fold are
    * hash-checked end to end. */
  val a41 = Q("a41_sql_dml", Some("""
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 41 = 7 THEN 'M'
             WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor((CASE WHEN o_orderkey % 41 = 7 THEN o_totalprice
             WHEN o_orderkey % 13 = 1 THEN o_totalprice + 1000.0
             ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS cents,
        o_orderpriority AS pri
      FROM orders
      UNION ALL
      SELECT o_orderkey + mx.mk, 'N',
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT), o_orderpriority
      FROM orders CROSS JOIN mx WHERE o_orderkey % 97 = 5
    )
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v WHERE NOT (k % 17 = 3)
    GROUP BY status ORDER BY status""")) { (s, d) =>
    upsertViewAgg(graft.sources.LakeSink
      .morReadUpsertDir(s, ensureDmlOrders(s, d), "o_orderkey"))
  }

  private def ensurePatchOrders(s: SparkSession, d: String): String =
    Fixture.stamped("patch", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "_updates")) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val k = col("o_orderkey")
      // patch 1: key + ONE column (status) for the %19 slice; the
      // %38 sub-slice carries NULL — the COALESCE contract: a NULL
      // patch cell keeps the current value
      graft.sources.LakeSink.softPatchDir(s, build.getPath,
        base.filter(k % 19 === 2)
          .select(k, when(k % 38 === 2, lit(null: String))
            .otherwise(lit("X")).as("o_orderstatus")),
        "o_orderkey")
      // patch 2: key + a DIFFERENT column (price) for the %23 slice —
      // overlap rows (%19 ∩ %23) compose: the second patch's
      // expansion reads the first's effect, so both stick
      graft.sources.LakeSink.softPatchDir(s, build.getPath,
        base.filter(k % 23 === 3)
          .select(k, (col("o_totalprice") + 500.0).as("o_totalprice")),
        "o_orderkey")
    }

  /** a42: PATCH (COLUMN-SUBSET) UPSERTS
    * ([[graft.sources.LakeSink.softPatchDir]] — the CDC batch shape
    * softUpsertDir refuses: `(key, changed columns)` records, the
    * Debezium partial image / Delta `MERGE SET c =` form): two
    * patches carrying DIFFERENT single columns land against
    * overlapping key slices; each expands at the write to full rows
    * (COALESCE(patch, current) — a NULL patch cell keeps the current
    * value, pinned by the %38 sub-slice) under the log claim, so the
    * second patch composes over the first and the log stays
    * uniform full-row batches — every read path, planner fold, and
    * feed works on patched rows unchanged. Oracle restates both
    * patches as CASE over the raw table — expand, land, fold
    * hash-checked end to end. */
  val a42 = Q("a42_patch_upsert", Some("""
    WITH v AS (
      SELECT
        CASE WHEN o_orderkey % 19 = 2 AND o_orderkey % 38 <> 2 THEN 'X'
             ELSE o_orderstatus END AS status,
        CAST(floor((CASE WHEN o_orderkey % 23 = 3 THEN o_totalprice + 500.0
             ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS cents,
        o_orderpriority AS pri
      FROM orders)
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v GROUP BY status ORDER BY status""")) { (s, d) =>
    upsertViewAgg(graft.sources.LakeSink
      .morReadUpsertDir(s, ensurePatchOrders(s, d), "o_orderkey"))
  }

  /** a43: THE COMPLETE CHANGE FEED — inserts, updates, AND DELETE
    * EVENTS with before-images ([[graft.sources.LakeSink.changeFeed]]
    * — Delta `table_changes`' full op set; a37 replays only the
    * update log by design, so a downstream replicator still had to
    * poll snapshot diffs for deletes): tombstone landings take a seq
    * from the SAME log counter as upserts and persist
    * (batch_seq, 'delete', full before-image) rows in the tombstone's
    * own atomic rename — the rows the anti-join drops, materialized
    * from the scan the removed-count already paid. The feed is
    * totally ordered by the shared seq: u-1 (update+insert), u-2
    * (re-update), b-3 (deletes of the CURRENT version — W/U/clone
    * versions, not base rows: the before-image is the fold at delete
    * time, which the oracle restates as the same CASE). O(|log|),
    * base scanned once. */
  val a43 = Q("a43_change_feed", Some("""
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    f1 AS (
      SELECT 1 AS batch_seq, 'update' AS op,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        'U-' || o_orderpriority AS pri
      FROM orders WHERE o_orderkey % 13 = 1
      UNION ALL
      SELECT 1, 'insert',
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT),
        o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 5
    ),
    f2 AS (
      SELECT 2 AS batch_seq, 'update' AS op,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        'W-' || o_orderpriority AS pri
      FROM orders WHERE o_orderkey % 26 = 1
    ),
    v AS (
      SELECT o_orderkey AS k,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        CASE WHEN o_orderkey % 26 = 1 THEN 'W-' || o_orderpriority
             WHEN o_orderkey % 13 = 1 THEN 'U-' || o_orderpriority
             ELSE o_orderpriority END AS pri
      FROM orders
      UNION ALL
      SELECT o_orderkey + mx.mk,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT),
        o_orderpriority
      FROM orders CROSS JOIN mx WHERE o_orderkey % 97 = 5
    ),
    f3 AS (
      SELECT 3 AS batch_seq, 'delete' AS op, cents, pri
      FROM v WHERE k % 17 = 3
    ),
    allf AS (
      SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3)
    SELECT batch_seq, op, count(*) AS n_rows,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM allf GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    val dir = ensureUpsertOrders(s, d)
    graft.sources.LakeSink.changeFeed(s, dir, "o_orderkey")
      .groupBy(col("batch_seq"), col("op"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"),
        count_distinct(col("o_orderpriority")).as("n_pri"))
      .orderBy("batch_seq", "op")
  }

  /** a44: TIME TRAVEL ON THE UPSERT LOG
    * ([[graft.sources.LakeSink.morReadUpsertDirAsOf]] — Delta's
    * `VERSION AS OF` for the log tier; a27 travels CATALOG
    * generations, this travels WITHIN one): the view AS OF landing 1
    * replays exactly the first batch — the %13 updates and the clone
    * inserts are visible, the seq-2 re-update and the seq-3 delete
    * are NOT (nothing hidden, nothing re-statused) — because one
    * shared counter orders every landing, upsert or delete, and the
    * travel read folds only the prefix. The oracle restates the
    * prefix state; a33's live-view oracle restates the full history
    * over the SAME fixture, so the pair hash-proves the prefix rule
    * end to end. */
  private val asOfSeq1OracleSql = """
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v AS (
      SELECT
        CASE WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        CASE WHEN o_orderkey % 13 = 1 THEN 'U-' || o_orderpriority
             ELSE o_orderpriority END AS pri
      FROM orders
      UNION ALL
      SELECT 'N', CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT),
        o_orderpriority
      FROM orders CROSS JOIN mx WHERE o_orderkey % 97 = 5
    )
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v GROUP BY status ORDER BY status"""

  val a44 = Q("a44_asof_log", Some(asOfSeq1OracleSql)) { (s, d) =>
    val dir = ensureUpsertOrders(s, d)
    upsertViewAgg(graft.sources.LakeSink
      .morReadUpsertDirAsOf(s, dir, "o_orderkey", asOfSeq = 1L))
  }

  private def ensureInsertOrders(s: SparkSession, d: String): String =
    Fixture.stamped("ins", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.has(dir, "_updates/_key") &&
        Fixture.count(dir, "_updates", "u-") == 2) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val bp = build.getPath
      graft.sources.LakeSink.registerKeyDir(s, bp, "o_orderkey")
      val mk = base.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      // stmt 1: full-row INSERT ... SELECT — key-shifted clones of
      // the %29 slice, status 'I' (positional map, table layout)
      base.filter(k % 29 === 11)
        .withColumn("o_orderkey", k + mk)
        .withColumn("o_orderstatus", lit("I"))
        .createOrReplaceTempView("a45_src1")
      s.sql(s"INSERT INTO parquet.`$bp` SELECT * FROM a45_src1")
      // stmt 2: column-list INSERT — only (key, price, priority);
      // every omitted column NULL-fills (standard SQL semantics)
      base.filter(k % 37 === 5)
        .select((k + lit(2L * mk)).as("ik"),
          (col("o_totalprice") + 50.0).as("ip"),
          col("o_orderpriority").as("io"))
        .createOrReplaceTempView("a45_src2")
      s.sql(s"INSERT INTO parquet.`$bp` (o_orderkey, o_totalprice, " +
        "o_orderpriority) SELECT ik, ip, io FROM a45_src2")
    }

  /** a45: `INSERT INTO` ROUTED THROUGH THE MERGE-ON-READ LOG
    * ([[graft.plans.GraftDml.runInsert]] — the one write that used to
    * silently side-step the log: GraftSqlParser delegated INSERT to
    * Spark, which appends bare files no change feed can ever replay,
    * and the reference's hottest statement is exactly this INSERT,
    * order_rdbms_blob.js:574): two inserts issued as SQL STRINGS
    * against a keyed lake dir — a full-row `INSERT … SELECT` and a
    * column-list insert whose omitted columns NULL-fill — land as
    * seq-carrying upsert-log batches with `_feed` rows, so BOTH the
    * post-state view AND the change feed restate in the oracle: the
    * feed half proves the inserts are replayable (batch 1 and 2,
    * op = 'insert'), which is the entire point of the routing. */
  val a45 = Q("a45_sql_insert", Some("""
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v AS (
      SELECT o_orderstatus AS status,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
      UNION ALL
      SELECT 'I', CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
      FROM orders CROSS JOIN mx WHERE o_orderkey % 29 = 11
      UNION ALL
      SELECT NULL, CAST(floor((o_totalprice + 50.0) * 100.0 + 0.5) AS BIGINT)
      FROM orders CROSS JOIN mx WHERE o_orderkey % 37 = 5
    )
    SELECT 'view' AS part, coalesce(status, '~null') AS k,
      count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v GROUP BY 2
    UNION ALL
    SELECT 'feed', '1-insert', count(*),
      CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 29 = 11
    UNION ALL
    SELECT 'feed', '2-insert', count(*),
      CAST(sum(CAST(floor((o_totalprice + 50.0) * 100.0 + 0.5) AS BIGINT))
        AS BIGINT)
    FROM orders WHERE o_orderkey % 37 = 5
    ORDER BY part, k""")) { (s, d) =>
    val dir = ensureInsertOrders(s, d)
    val cents = sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
      .as("sum_cents")
    val viewAgg = graft.sources.LakeSink
      .morReadUpsertDir(s, dir, "o_orderkey")
      .groupBy(coalesce(col("o_orderstatus"), lit("~null")).as("k"))
      .agg(count(lit(1)).as("n_rows"), cents)
      .select(lit("view").as("part"), col("k"), col("n_rows"),
        col("sum_cents"))
    val feedAgg = graft.sources.LakeSink.changeFeed(s, dir, "o_orderkey")
      .groupBy(concat(col("batch_seq").cast("string"), lit("-"),
        col("op")).as("k"))
      .agg(count(lit(1)).as("n_rows"), cents)
      .select(lit("feed").as("part"), col("k"), col("n_rows"),
        col("sum_cents"))
    viewAgg.unionByName(feedAgg).orderBy("part", "k")
  }

  /** a46: SQL TIME TRAVEL — `VERSION AS OF` on the upsert log
    * ([[graft.plans.TimeTravelRule]] resolving Spark's natively-parsed
    * temporal clause to [[graft.sources.LakeSink
    * .morReadUpsertDirAsOf]]): a44's exact prefix read issued as
    * PLAIN `spark.sql` over the SAME fixture, sharing a44's oracle —
    * the pair hash-proves SQL syntax ≡ the API travel read end to
    * end (the r15 DML story's missing read-side syntax; Delta's
    * `SELECT … FROM t VERSION AS OF n`). */
  val a46 = Q("a46_sql_asof", Some(asOfSeq1OracleSql)) { (s, d) =>
    val dir = ensureUpsertOrders(s, d)
    s.sql(s"""
      SELECT o_orderstatus AS status, count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS BIGINT) AS sum_cents,
        count(DISTINCT o_orderpriority) AS n_pri
      FROM parquet.`$dir` VERSION AS OF 1
      GROUP BY o_orderstatus ORDER BY status""")
  }

  private def ensureEvolveOrders(s: SparkSession, d: String): String =
    // validity = a COMMITTED schema version (r17: `_schema-<n>`; the
    // pre-r17 bare `_schema` also counts) + all three batches landed
    Fixture.stamped("evo", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.count(dir, "_updates", "_schema") > 0 &&
        Fixture.count(dir, "_updates", "u-") == 3) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val k = col("o_orderkey")
      // batch 1 (PRE-evolution, original schema): %13 slice → 'U'
      graft.sources.LakeSink.softUpsertDir(s, build.getPath,
        base.filter(k % 13 === 1).withColumn("o_orderstatus", lit("U")),
        "o_orderkey")
      // batch 2 EVOLVES: full rows + the new o_tier column
      graft.sources.LakeSink.evolveUpsertDir(s, build.getPath,
        base.filter(k % 31 === 4)
          .withColumn("o_tier", when(col("o_totalprice") > 150000.0,
            lit("hi")).otherwise(lit("lo"))),
        "o_orderkey")
      // batch 3 (POST-evolution): the widened schema is now the
      // contract — this batch must carry o_tier
      graft.sources.LakeSink.softUpsertDir(s, build.getPath,
        base.filter(k % 7 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 7.0)
          .withColumn("o_tier", lit("T3")),
        "o_orderkey")
    }

  /** a47: SCHEMA EVOLUTION ON A LOG-CARRYING TABLE
    * ([[graft.sources.LakeSink.evolveUpsertDir]] — the path that used
    * to refuse: appendEvolved is base-tier only, so a table with a
    * pending `_updates` log could not add a column without compacting
    * first; Delta/Hudi evolve through MERGE, and the reference's own
    * sql_schema DDL evolves mid-walkthrough, db_setup.js): an
    * update-insert history lands a PRE-evolution batch (original
    * schema), then an EVOLVING batch committing the widened schema
    * (`_updates/_schema`, one metadata file — no data file is ever
    * rewritten) plus its rows with the new `o_tier` column, then an
    * ordinary post-evolution batch (the widened schema is now the
    * uniform-log contract). The fold reads EVERYTHING through the
    * committed schema: base rows and the pre-evolution batch
    * NULL-FILL `o_tier` natively in the parquet reader — which is
    * exactly what the oracle restates (tier NULL except the evolved
    * slices, latest-wins across all three batches). */
  val a47 = Q("a47_evolve_upsert", Some("""
    WITH v AS (
      SELECT
        CASE WHEN o_orderkey % 7 = 2 THEN o_orderstatus
             WHEN o_orderkey % 31 = 4 THEN o_orderstatus
             WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CASE WHEN o_orderkey % 7 = 2 THEN 'T3'
             WHEN o_orderkey % 31 = 4 THEN
               CASE WHEN o_totalprice > 150000.0 THEN 'hi' ELSE 'lo' END
             ELSE NULL END AS tier,
        CAST(floor((CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 7.0
             ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders)
    SELECT status, coalesce(tier, '~null') AS tier,
      count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    val dir = ensureEvolveOrders(s, d)
    graft.sources.LakeSink.morReadUpsertDir(s, dir, "o_orderkey")
      .groupBy(col("o_orderstatus").as("status"),
        coalesce(col("o_tier"), lit("~null")).as("tier"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("status", "tier")
  }

  /** a48: THE CHANGE FEED AS A SQL TABLE FUNCTION
    * ([[graft.plans.GraftChangesTvf]] via `injectTableFunction` —
    * Delta's `table_changes(t, from, to)`; the polling consumer's
    * changeFeedBetween reachable from plain spark.sql, and the last
    * SQL-story gap: a41/a45 write through SQL, a46 travels through
    * SQL, this POLLS through SQL): the (0, 2] half-open window over
    * a43's fixture — exactly the first two landings (seq-1
    * update+insert, seq-2 re-update), the seq-3 delete EXCLUDED by
    * the window — read as `FROM graft_changes(dir, 0, 2)`. The
    * windowed form is seq-pruned (batches selected by name,
    * O(|window|) feed files); a43's full-history oracle over the
    * SAME fixture completes the pair — window vs full feed
    * hash-proved. */
  val a48 = Q("a48_sql_changes", Some("""
    WITH f1 AS (
      SELECT 1 AS batch_seq, 'update' AS op,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        'U-' || o_orderpriority AS pri
      FROM orders WHERE o_orderkey % 13 = 1
      UNION ALL
      SELECT 1, 'insert',
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT),
        o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 5
    ),
    f2 AS (
      SELECT 2 AS batch_seq, 'update' AS op,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        'W-' || o_orderpriority AS pri
      FROM orders WHERE o_orderkey % 26 = 1
    ),
    allf AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
    SELECT batch_seq, op, count(*) AS n_rows,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM allf GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    val dir = ensureUpsertOrders(s, d)
    s.sql(s"""
      SELECT batch_seq, op, count(*) AS n_rows,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS BIGINT) AS sum_cents,
        count(DISTINCT o_orderpriority) AS n_pri
      FROM graft_changes('$dir', 0, 2)
      GROUP BY batch_seq, op ORDER BY batch_seq, op""")
  }

  /** a49: THE LOG'S COMMIT HISTORY AS A SQL TABLE FUNCTION
    * ([[graft.plans.GraftHistoryTvf]] — Delta's `DESCRIBE HISTORY`
    * for the log tier): one row per committed landing
    * (seq, kind, n_rows), computed from batch FOOTERS at plan time —
    * metadata-sized at any table size, the data is never scanned.
    * Deterministic by construction (each landing's own row count),
    * so the history itself is ORACLE-able: the fixture's three
    * landings (mixed update+insert / re-update / view-keyed delete)
    * restate as three counts over raw orders. Composes in SQL with
    * its companions: `max(seq)` = lastLandedSeq, any seq feeds
    * `VERSION AS OF` (a46) or `graft_changes` (a48) — inspect, then
    * travel or replay, all plain spark.sql. */
  val a49 = Q("a49_sql_history", Some("""
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    v AS (
      SELECT o_orderkey AS k FROM orders
      UNION ALL
      SELECT o_orderkey + mx.mk FROM orders CROSS JOIN mx
      WHERE o_orderkey % 97 = 5
    )
    SELECT CAST(1 AS BIGINT) AS seq, 'upsert' AS kind,
      CAST((SELECT count(*) FROM orders WHERE o_orderkey % 13 = 1) +
           (SELECT count(*) FROM orders WHERE o_orderkey % 97 = 5)
        AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'upsert',
      CAST((SELECT count(*) FROM orders WHERE o_orderkey % 26 = 1) AS BIGINT)
    UNION ALL
    SELECT 3, 'delete',
      CAST((SELECT count(*) FROM v WHERE k % 17 = 3) AS BIGINT)
    ORDER BY seq""")) { (s, d) =>
    val dir = ensureUpsertOrders(s, d)
    s.sql(s"SELECT seq, kind, n_rows FROM graft_history('$dir') " +
      "ORDER BY seq")
  }

  private def ensureOptimizeOrders(s: SparkSession, d: String): String =
    // validity = the POST-optimize state: data present, log DRAINED
    // (r17: the _key marker survives the swap — drained means no
    // pending u-* batches), tombstones gone
    Fixture.stamped("opt", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.has(dir, "_SUCCESS") &&
        Fixture.count(dir, "_updates", "u-") == 0 &&
        !Fixture.has(dir, "_deletes")) { build =>
      val base = t(s, d, "orders")
      base.repartition(4).write.mode("overwrite").parquet(build.getPath)
      val bp = build.getPath
      graft.sources.LakeSink.registerKeyDir(s, bp, "o_orderkey")
      s.sql(s"UPDATE parquet.`$bp` SET o_orderstatus = 'U', " +
        "o_totalprice = o_totalprice + 1000.0 WHERE o_orderkey % 13 = 1")
      s.sql(s"DELETE FROM parquet.`$bp` WHERE o_orderkey % 17 = 3")
      s.sql(s"OPTIMIZE parquet.`$bp`")
    }

  /** a50: `OPTIMIZE` — MAINTENANCE AS SQL ([[graft.plans.GraftDml
    * .runOptimize]], Delta's verb): an UPDATE + DELETE history lands
    * through the a41 SQL surface, then `OPTIMIZE parquet.`/dir``
    * routes to [[graft.sources.LakeSink.compactUpsertsDir]] — the
    * folded view replaces the base through the checked two-rename
    * swap, `_updates`/`_deletes` retiring atomically with the
    * superseded directory. The query then reads the table with a
    * PLAIN `spark.read.parquet` — no fold API, no planner rule, no
    * conf — and the oracle still hash-matches: the proof that the
    * whole mutate-then-compact lifecycle materialized exactly the
    * view the log described. Unkeyed dirs route to plain small-file
    * compaction, catalog tables to compactMor/compactTable — every
    * tier's own safety refusals unchanged (DmlSpec pins the routes). */
  val a50 = Q("a50_sql_optimize", Some("""
    WITH v AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor((CASE WHEN o_orderkey % 13 = 1
             THEN o_totalprice + 1000.0
             ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS cents,
        o_orderpriority AS pri
      FROM orders)
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v WHERE NOT (k % 17 = 3)
    GROUP BY status ORDER BY status""")) { (s, d) =>
    // the PLAIN read is the point: post-OPTIMIZE there is no log to
    // fold and no API to call — the files ARE the view
    upsertViewAgg(s.read.parquet(ensureOptimizeOrders(s, d)))
  }

  private def ensureZOrderOrders(s: SparkSession, d: String): String =
    Fixture.stamped("zo", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.has(dir, "_stats", "_blooms_o_orderkey") && // r17 layout
        Fixture.count(dir, "_updates", "u-") == 0) { bld =>
      t(s, d, "orders").repartition(4).write.mode("overwrite")
        .parquet(bld.getPath)
      val bp = bld.getPath
      graft.sources.LakeSink.registerKeyDir(s, bp, "o_orderkey")
      s.sql(s"UPDATE parquet.`$bp` SET o_totalprice = o_totalprice " +
        "+ 1000.0 WHERE o_orderkey % 13 = 1")
      Q.withConfs(s, "spark.graft.optimize.targetRecordsPerFile" -> "2000")(
        s.sql(s"OPTIMIZE parquet.`$bp` ZORDER BY (o_custkey, o_orderkey)"))
    }

  /** a51: `OPTIMIZE … ZORDER BY` — the SQL path from "my table is
    * slow" to "my table is clustered" (Delta's verb; a21/a28's layout
    * machinery behind it, VERDICT-r16 missing #2): a mutated keyed
    * dir is clustered on (o_custkey, o_orderkey) through ONE
    * statement — the fold, the z-order layout, and the cluster
    * columns' `_stats` manifest commit in the same checked swap —
    * and the query is then a PLAIN `spark.sql` range predicate under
    * [[graft.plans.StatsPruneRule]]: it reads ~the files whose
    * min/max intersect the box (DmlSpec pins inputFiles <
    * all-files), hash-matching the raw restatement. */
  val a51 = Q("a51_optimize_zorder", Some("""
    WITH v AS (SELECT o_custkey, o_orderkey,
      CASE WHEN o_orderkey % 13 = 1 THEN o_totalprice + 1000.0
           ELSE o_totalprice END AS p
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(floor(p * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_cents,
      CAST(min(o_orderkey) AS BIGINT) AS min_k,
      CAST(max(o_orderkey) AS BIGINT) AS max_k
    FROM v WHERE o_custkey BETWEEN 100 AND 220""")) { (s, d) =>
    val dir = ensureZOrderOrders(s, d)
    s.sql(s"""
      SELECT count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          AS BIGINT) AS sum_cents,
        min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
      FROM parquet.`$dir` WHERE o_custkey BETWEEN 100 AND 220""")
  }

  private def ensureVacuumOrders(s: SparkSession, d: String): String =
    Fixture.stamped("vac", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.has(dir, "t.g2") && !Fixture.has(dir, "t") &&
        !Fixture.has(dir, "t.g1")) { bld =>
      bld.mkdirs()
      val tp = new java.io.File(bld, "t").getPath
      t(s, d, "orders").repartition(3).write.mode("overwrite").parquet(tp)
      s.sql("DROP TABLE IF EXISTS a52_vac_orders")
      graft.sources.LakeSink.registerExternal(s, "a52_vac_orders", tp,
        key = "o_orderkey", format = "parquet")
      graft.sources.LakeSink.compactTable(s, "a52_vac_orders", 10000L) // g1
      s.sql("UPDATE a52_vac_orders SET o_orderstatus = 'U', " +
        "o_totalprice = o_totalprice + 500.0 WHERE o_orderkey % 19 = 2")
      s.sql("DELETE FROM a52_vac_orders WHERE o_orderkey % 23 = 7")
      s.sql("OPTIMIZE a52_vac_orders") // folds the log in place at g1
      graft.sources.LakeSink.compactTable(s, "a52_vac_orders", 10000L) // g2
      Q.withConfs(s, "spark.graft.vacuum.retentionCheck.enabled" -> "false")(
        s.sql("VACUUM a52_vac_orders RETAIN 0 MINUTES"))
      s.sql("DROP TABLE IF EXISTS a52_vac_orders")
    }

  /** a52: `VACUUM` — on-demand retention GC as SQL (Delta's verb;
    * VERDICT-r16 missing #3: superseded generations only ever
    * reclaimed opportunistically at the NEXT publish — a table
    * nobody republishes keeps paying for its history): a full
    * mutate-compact lifecycle leaves generations g0/g1/g2, then
    * `VACUUM … RETAIN 0 MINUTES` (floor waived by the Delta-style
    * conf; the floor itself refuses by name) reclaims everything but
    * the live snapshot. The query reads the SURVIVING generation
    * with a plain `spark.read.parquet` and still hash-matches the
    * raw restatement — the proof that vacuum reclaimed exactly
    * history, never state. DmlSpec pins the refusals, the reclaim
    * set, and travel-to-reclaimed refusing by name. */
  val a52 = Q("a52_vacuum", Some("""
    WITH v AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 19 = 2 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor((CASE WHEN o_orderkey % 19 = 2
             THEN o_totalprice + 500.0
             ELSE o_totalprice END) * 100.0 + 0.5) AS BIGINT) AS cents,
        o_orderpriority AS pri
      FROM orders)
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
    FROM v WHERE NOT (k % 23 = 7)
    GROUP BY status ORDER BY status""")) { (s, d) =>
    val root = ensureVacuumOrders(s, d)
    upsertViewAgg(s.read.parquet(s"$root/t.g2"))
  }

  private def ensureWidenOrders(s: SparkSession, d: String): String =
    Fixture.stamped("widen", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.count(dir, "_updates", "_schema-") > 0 &&
        Fixture.count(dir, "_updates", "u-") == 3) { bld =>
      val k = col("o_orderkey")
      val base = t(s, d, "orders").select(k, col("o_orderstatus"),
        (k % 997).cast("int").as("o_qty"),
        (col("o_totalprice") / 1000.0).cast("float").as("o_score"))
      base.repartition(4).write.mode("overwrite").parquet(bld.getPath)
      val bp = bld.getPath
      // batch 1: PRE-widening, original narrow types
      graft.sources.LakeSink.softUpsertDir(s, bp,
        base.filter(k % 13 === 1)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_qty", (col("o_qty") + 7).cast("int")),
        "o_orderkey")
      // batch 2 WIDENS: o_qty int→long, o_score float→double — no
      // column added, the types are the evolution
      graft.sources.LakeSink.evolveUpsertDir(s, bp,
        t(s, d, "orders").filter(k % 31 === 4).select(k,
          lit("W").as("o_orderstatus"),
          ((k % 997) + 100000L).as("o_qty"),
          col("o_totalprice").as("o_score")),
        "o_orderkey")
      // batch 3: POST-widening, the wide types are the contract
      graft.sources.LakeSink.softUpsertDir(s, bp,
        t(s, d, "orders").filter(k % 7 === 2).select(k,
          lit("T").as("o_orderstatus"),
          lit(555555L).as("o_qty"), lit(2.5).as("o_score")),
        "o_orderkey")
    }

  /** a53: TYPE-WIDENING EVOLUTION (VERDICT-r16 missing #5 — an
    * upstream int column that becomes bigint used to force a full
    * compact; Delta's type widening rides the same parquet-reader
    * upcasts): a narrow (int, float) history — base + a pre-widening
    * batch — is widened to (long, double) by ONE
    * [[graft.sources.LakeSink.evolveUpsertDir]] landing (no column
    * added: the types ARE the evolution; one metadata file, no data
    * rewritten), then a post-widening batch lands at the wide types.
    * The fold reads EVERYTHING through the committed schema: base
    * and pre-widening batch values UPCAST in place (int→long,
    * float→double — never null-filled, the distinction the oracle's
    * exact restatement proves), latest-wins across all three
    * batches. UpsertLogSpec pins the refusals (narrowing, key
    * widening, decimal) and the drift contract. */
  val a53 = Q("a53_widen_upsert", Some("""
    WITH v AS (
      SELECT
        CASE WHEN o_orderkey % 7 = 2 THEN 'T'
             WHEN o_orderkey % 31 = 4 THEN 'W'
             WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CASE WHEN o_orderkey % 7 = 2 THEN 555555
             WHEN o_orderkey % 31 = 4 THEN (o_orderkey % 997) + 100000
             WHEN o_orderkey % 13 = 1 THEN
               CAST(CAST(o_orderkey % 997 AS INTEGER) + 7 AS BIGINT)
             ELSE CAST(CAST(o_orderkey % 997 AS INTEGER) AS BIGINT)
          END AS qty,
        CASE WHEN o_orderkey % 7 = 2 THEN 2.5
             WHEN o_orderkey % 31 = 4 THEN o_totalprice
             ELSE CAST(CAST(o_totalprice / 1000.0 AS REAL) AS DOUBLE)
          END AS score
      FROM orders)
    SELECT status, count(*) AS n_orders,
      CAST(sum(qty) AS BIGINT) AS sum_qty,
      CAST(sum(CAST(floor(score * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS sum_score_cents
    FROM v GROUP BY status ORDER BY status""")) { (s, d) =>
    val dir = ensureWidenOrders(s, d)
    graft.sources.LakeSink.morReadUpsertDir(s, dir, "o_orderkey")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_qty")).cast("long").as("sum_qty"),
        sum(floor(col("o_score") * 100.0 + 0.5).cast("long"))
          .as("sum_score_cents"))
      .orderBy("status")
  }

  private def ensureHistoryGens(s: SparkSession, d: String): String =
    Fixture.stamped("genh", Fixture.stamp(s, d, "orders"),
      Fixture.has(_, "t.g2/_published_delete")) { bld =>
      bld.mkdirs()
      val tp = new java.io.File(bld, "t").getPath
      t(s, d, "orders").repartition(3).write.mode("overwrite").parquet(tp)
      s.sql("DROP TABLE IF EXISTS a54_hist_orders")
      graft.sources.LakeSink.registerExternal(s, "a54_hist_orders", tp,
        key = "o_orderkey", format = "parquet")
      graft.sources.LakeSink.compactTable(s, "a54_hist_orders", 10000L) // g1
      val keys = s.table("a54_hist_orders")
        .filter(col("o_orderkey") % 17 === 3).select("o_orderkey")
      graft.sources.LakeSink.softDelete(s, "a54_hist_orders", keys,
        "o_orderkey")                                                  // g2
      s.sql("DROP TABLE IF EXISTS a54_hist_orders")
    }

  /** a54: CATALOG-TIER `graft_history(table)` (VERDICT-r16 missing
    * #4 — generation history was API-only): one row per RETAINED
    * generation, `(seq = generation, kind ∈ data|delete, n_rows)`,
    * computed from parquet FOOTERS on the driver (data generations
    * sum their files; a delete snapshot counts the keys its
    * `_tombstones` removed — churn-sized, the log tier's own delete
    * semantics). The seq column feeds `VERSION AS OF` exactly like
    * the log tier's — inspect, then travel, both tiers, same SQL.
    * Restated: gen 0 (as registered) and gen 1 (compacted) carry the
    * full row count, gen 2 is the published delete snapshot of the
    * %17 slice. */
  val a54 = Q("a54_catalog_history", Some("""
    SELECT CAST(0 AS BIGINT) AS seq, 'data' AS kind,
      CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, 'data', (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 2, 'delete',
      (SELECT count(*) FROM orders WHERE o_orderkey % 17 = 3)
    ORDER BY seq""")) { (s, d) =>
    val root = ensureHistoryGens(s, d)
    s.sql("DROP TABLE IF EXISTS a54_hist_orders")
    graft.sources.LakeSink.registerExternal(s, "a54_hist_orders",
      s"$root/t.g1", key = "o_orderkey", format = "parquet")
    s.sql("SELECT seq, kind, n_rows FROM graft_history('a54_hist_orders') " +
      "ORDER BY seq")
  }

  private def ensureDbDml(s: SparkSession, d: String): String =
    Fixture.stamped("dbdml", Fixture.stamp(s, d, "orders"), dir =>
      Fixture.count(dir, "_updates", "u-") == 2 &&
        Fixture.count(dir, "_deletes", "b-") == 1) { bld =>
      t(s, d, "orders").repartition(4).write.mode("overwrite")
        .parquet(bld.getPath)
      val bp = bld.getPath
      s.sql("CREATE DATABASE IF NOT EXISTS graft_a55")
      s.sql("DROP TABLE IF EXISTS graft_a55.orders_t")
      s.sql(s"CREATE TABLE graft_a55.orders_t USING parquet LOCATION '$bp'")
      s.sql("ALTER TABLE graft_a55.orders_t " +
        "SET TBLPROPERTIES ('graft.key' = 'o_orderkey')")
      s.sql("UPDATE graft_a55.orders_t SET o_orderstatus = 'U' " +
        "WHERE o_orderkey % 13 = 1")
      s.sql("DELETE FROM graft_a55.orders_t WHERE o_orderkey % 17 = 3")
      // the INSERT source is a temp view over the RAW source table,
      // not a read of the target (which serves its folded view)
      t(s, d, "orders").filter(col("o_orderkey") % 29 === 11)
        .createOrReplaceTempView("a55_ins_src")
      s.sql("INSERT INTO graft_a55.orders_t " +
        "SELECT o_orderkey + 30000000, o_custkey, 'I', " +
        "o_totalprice + 10.0, o_orderdate, o_orderpriority " +
        "FROM a55_ins_src")
      s.sql("DROP TABLE IF EXISTS graft_a55.orders_t")
      s.sql("DROP DATABASE IF EXISTS graft_a55")
    }

  /** a55: DATABASE-QUALIFIED DML (VERDICT-r16 missing #1 — every
    * real catalog has databases; the reference's table name is
    * env-configured, order_rdbms_blob.js:449): the full statement
    * set — UPDATE / DELETE / INSERT (PK semantics, the insert's
    * source read through the same qualified name) — issued against
    * `graft_a55.orders_t`, resolved through the session catalog's
    * database rules into the SAME keyed log any spelling of the
    * table addresses. The fold restates: %13 slice updated, %17
    * slice deleted, the %29 slice re-inserted under shifted keys
    * with its own status. DmlSpec pins the qualified travel/OPTIMIZE
    * companions deterministically. */
  val a55 = Q("a55_db_dml", Some("""
    WITH v AS (
      SELECT CASE WHEN o_orderkey % 13 = 1 THEN 'U'
             ELSE o_orderstatus END AS status,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE NOT (o_orderkey % 17 = 3)
      UNION ALL
      SELECT 'I',
        CAST(floor((o_totalprice + 10.0) * 100.0 + 0.5) AS BIGINT)
      FROM orders WHERE o_orderkey % 29 = 11)
    SELECT status, count(*) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v GROUP BY status ORDER BY status""")) { (s, d) =>
    val dir = ensureDbDml(s, d)
    graft.sources.LakeSink.morReadUpsertDir(s, dir, "o_orderkey")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("status")
  }

  val qs: Seq[Q] = Seq(a1, a2, a3, a4, a5, a6, a7, a8, a9, a10, a11,
    a12, a13, a14, a15, a16, a17, a18, a19, a20, a21, a22, a23, a24,
    a25, a26, a27, a28, a29, a30, a31, a32, a33, a34, a35, a36, a37,
    a38, a39, a40, a41, a42, a43, a44, a45, a46, a47, a48, a49, a50,
    a51, a52, a53, a54, a55)
}
