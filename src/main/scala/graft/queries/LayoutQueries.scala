package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Physical layout and table maintenance: Z-order/Hilbert layouts,
  * zone-map and partition pruning, skew and salt advice, compaction plans,
  * retention expiry, snapshot diffs, change sets, upserts, constraint
  * checks and JSON quarantine. */
object LayoutQueries {

  /** Morton keys of (l_partkey, l_suppkey) for every lineitem row — the
    * write-side computation of multi-dimensional clustering (see
    * operators.ZOrder; ZOrderSpec measures the pruning effect). The gate
    * pins the bit-exact interleave against the same magic-number spread
    * re-derived in SQL. */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        operators.ZOrder.zValue2(col("l_partkey"), col("l_suppkey")).as("z"))
      .orderBy("z", "l_orderkey", "l_linenumber")

  /** The five magic-number spread steps as SQL text (each step referenced
    * twice, so the expression is 2^5 copies of `e` — fine for a column
    * name). */
  private def spreadSql(e: String): String = {
    var s = s"(($e | ($e << 16)) & 281470681808895)"
    s = s"(($s | ($s << 8)) & 71777214294589695)"
    s = s"(($s | ($s << 4)) & 1085102592571150095)"
    s = s"(($s | ($s << 2)) & 3689348814741910323)"
    s"(($s | ($s << 1)) & 6148914691236517205)"
  }

  private val qZorderLayoutSql =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  l_partkey, l_suppkey,
       |  (${spreadSql("l_partkey")} | (${spreadSql("l_suppkey")} << 1)) AS z
       |FROM lineitem ORDER BY z, l_orderkey, l_linenumber""".stripMargin

  /** Hilbert-curve layout key (operators.Hilbert): the same two-column
    * clustering surface as q_zorder_layout but on the jump-free curve —
    * 31 unrolled quadrant steps, each a few integer CASEs, all narrow
    * whole-stage-codegen projections. The oracle replays the identical
    * CTE chain (Hilbert.sqlSteps), so every per-row index is under the
    * hash, not a spot check. */
  private def qHilbertLayout(s: SparkSession, dir: String): DataFrame =
    // NOT widened: the in-JVM A/B put the widened form ~0.3 s SLOWER
    // steady-state (1.0 -> 1.4 s) — the 31 quadrant steps are cheap
    // codegen next to the range-sort exchange the query ends in, so the
    // extra repartition buys nothing the sort's own exchange doesn't
    operators.Hilbert.withIndex(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", bits = 31, out = "h")
      .orderBy("h", "l_orderkey", "l_linenumber")

  private val qHilbertLayoutSql =
    s"""WITH ${operators.Hilbert.sqlSteps(31, "l_partkey", "l_suppkey",
        Seq("l_orderkey", "CAST(l_linenumber AS BIGINT) AS l_linenumber",
          "l_partkey", "l_suppkey"), "lineitem")}
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, d AS h
       |FROM h31 ORDER BY h, l_orderkey, l_linenumber""".stripMargin

  /** Snapshot reconciliation: documents vs a deterministically-edited v2
    * (drops, text rewrites, additions derived in-query so the oracle can
    * re-derive them). Added docs get fresh NEGATIVE ids — an offset
    * ("+1e9") is only fresh until a ScaleUp stride reaches it (the 100x
    * directory's second-pass stride IS 1e9), a negation never collides.
    * One full-outer join (see operators.Diff). */
  private def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(s, dir).select("doc_id", "text", "lang")
    val v2 = v1
      .where(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 61 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 103 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("text"), col("lang")))
    operators.Diff.diff(v1, v2, Seq("doc_id")).orderBy("doc_id")
  }

  private val qTableDiffSql =
    s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 61 = 0 THEN upper(text) ELSE text END AS text,
       |    lang
       |  FROM v1 WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1, text, lang FROM v1 WHERE doc_id % 103 = 0)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |  CASE WHEN v1.doc_id IS NULL THEN 'added'
       |       WHEN v2.doc_id IS NULL THEN 'removed'
       |       WHEN v1.text IS DISTINCT FROM v2.text
       |         OR v1.lang IS DISTINCT FROM v2.lang THEN 'changed' END AS change
       |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
       |WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL
       |  OR v1.text IS DISTINCT FROM v2.text OR v1.lang IS DISTINCT FROM v2.lang)
       |ORDER BY doc_id""".stripMargin

  /** Malformed-JSONL quarantine (sources.Quarantine): JSONL lines are
    * constructed arithmetically from the documents table — every %13
    * line truncated mid-string (syntactically invalid), every other %17
    * line valid but missing `lang` (schema drift) — then split by the
    * real `from_json` parser. The oracle re-derives every verdict and
    * every parsed field from the construction rule WITHOUT parsing JSON,
    * so the gate pins that the parser's accept/reject boundary and field
    * extraction match the rule exactly (a PERMISSIVE-mode regression —
    * e.g. the null-struct-vs-null-fields trap — flips statuses and fails
    * the hash). `parsed_id` doubles as an integrity check: it must equal
    * the carried doc_id on every parsed row. */
  private def qJsonQuarantine(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 13 === 0,
        concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang")))
      .when(col("doc_id") % 17 === 0,
        concat(lit("{\"id\": "), col("doc_id").cast("string"), lit("}")))
      .otherwise(
        concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang"), lit("\"}")))
      .as("line"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    sources.Quarantine.split(lines, "line", schema)
      .select(col("doc_id"),
        when(col("quarantined"), "quarantined").otherwise("parsed").as("status"),
        col("parsed.id").as("parsed_id"),
        col("parsed.lang").as("parsed_lang"))
      .orderBy("doc_id")
  }

  private val qJsonQuarantineSql =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 13 = 0 THEN 'quarantined'
       |       ELSE 'parsed' END AS status,
       |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS parsed_id,
       |  CASE WHEN doc_id % 13 = 0 OR doc_id % 17 = 0 THEN NULL
       |       ELSE lang END AS parsed_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  /** CDC apply (operators.Upsert): fold a versioned upsert/delete change
    * batch into the customer snapshot, last-writer-wins per key. The
    * batch is derived arithmetically from the corpus so the oracle can
    * replay it: v1 upserts every %5 key (payload mutation), a v2
    * takedown deletes every %7 key, a v3 re-upsert resurrects every %35
    * key (proving LWW beats the delete, not branch order), and %97 keys
    * insert under fresh NEGATIVE ids — negated rather than offset,
    * because "fresh" must survive key-stride amplification: the 10x
    * multi-JVM gate caught the original `+10000000` insert ids colliding
    * with ScaleUp copy-1 customers, producing two v=1 upserts per key
    * whose winner was partition-order-dependent. The versions-CAN-collide
    * contract is exercised DELIBERATELY: every %55 key gets a second v=1
    * upsert (`t1:` payload) alongside its `u1:` one, so the
    * `tieCols = (op, c_name)` ordering is genuinely consulted — both
    * engines must rank `u1:` over `t1:` (c_name DESC) or the hash splits;
    * without such a pair the tie path would be dead code the gate merely
    * claims to cover. Account balances travel as BIGINT micros so no
    * DOUBLE crosses the compare boundary. */
  private def qApplyChanges(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      expr("CAST(floor(c_acctbal * 1000000.0) AS BIGINT)").as("acct_micros"),
      col("c_mktsegment"))
    val payload = Seq("c_name", "c_nationkey", "acct_micros", "c_mktsegment")
    val up1 = c.where(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), concat(lit("u1:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 1111111L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    val del2 = c.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
        lit(null).cast("int").as("c_nationkey"),
        lit(null).cast("long").as("acct_micros"),
        lit(null).cast("string").as("c_mktsegment"),
        lit("delete").as("op"), lit(2L).as("v"))
    val up3 = c.where(col("c_custkey") % 35 === 0)
      .select(col("c_custkey"), concat(lit("u3:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 5L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(3L).as("v"))
    val ins = c.where(col("c_custkey") % 97 === 0)
      .select((-col("c_custkey") - 1L).as("c_custkey"),
        concat(lit("new:"), col("c_name")).as("c_name"),
        col("c_nationkey"), lit(42000000L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    // the deliberate equal-version pair: a SECOND v=1 upsert per %55 key
    // (every %55 key already has the u1 row), loser by c_name tie-break
    val up1b = c.where(col("c_custkey") % 55 === 0)
      .select(col("c_custkey"), concat(lit("t1:"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("acct_micros") + 2222222L).as("acct_micros"),
        col("c_mktsegment"), lit("upsert").as("op"), lit(1L).as("v"))
    val changes = up1.unionByName(del2).unionByName(up3).unionByName(ins)
      .unionByName(up1b)
    operators.Upsert.applyChanges(c, changes, Seq("c_custkey"), payload,
        opCol = "op", versionCol = "v", tieCols = Seq("op", "c_name"))
      .orderBy("c_custkey")
  }

  private val qApplyChangesSql =
    s"""WITH c AS (SELECT c_custkey, c_name, c_nationkey,
       |    CAST(floor(c_acctbal * 1000000.0) AS BIGINT) AS acct_micros,
       |    c_mktsegment FROM customer),
       |ch AS (
       |  SELECT c_custkey, 'u1:' || c_name AS c_name, c_nationkey,
       |    acct_micros + 1111111 AS acct_micros, c_mktsegment,
       |    'upsert' AS op, 1 AS v FROM c WHERE c_custkey % 5 = 0
       |  UNION ALL
       |  SELECT c_custkey, NULL, NULL, NULL, NULL, 'delete', 2
       |  FROM c WHERE c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT c_custkey, 'u3:' || c_name, c_nationkey, acct_micros + 5,
       |    c_mktsegment, 'upsert', 3 FROM c WHERE c_custkey % 35 = 0
       |  UNION ALL
       |  SELECT -c_custkey - 1, 'new:' || c_name, c_nationkey,
       |    42000000, c_mktsegment, 'upsert', 1
       |  FROM c WHERE c_custkey % 97 = 0
       |  UNION ALL
       |  SELECT c_custkey, 't1:' || c_name, c_nationkey,
       |    acct_micros + 2222222, c_mktsegment, 'upsert', 1
       |  FROM c WHERE c_custkey % 55 = 0),
       |w AS (SELECT * FROM (SELECT ch.*, row_number() OVER (
       |    PARTITION BY c_custkey
       |    ORDER BY v DESC, op DESC, c_name DESC) AS rk FROM ch)
       |  WHERE rk = 1)
       |SELECT COALESCE(c.c_custkey, w.c_custkey) AS c_custkey,
       |  CASE WHEN w.op = 'upsert' THEN w.c_name ELSE c.c_name END AS c_name,
       |  CASE WHEN w.op = 'upsert' THEN w.c_nationkey
       |       ELSE c.c_nationkey END AS c_nationkey,
       |  CASE WHEN w.op = 'upsert' THEN w.acct_micros
       |       ELSE c.acct_micros END AS acct_micros,
       |  CASE WHEN w.op = 'upsert' THEN w.c_mktsegment
       |       ELSE c.c_mktsegment END AS c_mktsegment
       |FROM c FULL OUTER JOIN w ON c.c_custkey = w.c_custkey
       |WHERE w.op IS NULL OR w.op <> 'delete'
       |ORDER BY c_custkey""".stripMargin

  /** The apply-able delta between the q_table_diff snapshots
    * (Diff.changeSet): added/changed docs as upserts carrying the NEW
    * payload, removed docs as tombstones — the batch a downstream
    * Upsert.applyChanges consumer replays (the closure
    * `apply(v1, changeSet(v1,v2)) == v2` is UpsertSpec-pinned; this gate
    * hashes the exported rows themselves). */
  private def qChangeSet(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(s, dir).select("doc_id", "text", "lang")
    val v2 = v1
      .where(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 61 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 103 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("text"), col("lang")))
    operators.Diff.changeSet(v1, v2, Seq("doc_id")).orderBy("doc_id")
  }

  private val qChangeSetSql =
    s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 61 = 0 THEN upper(text) ELSE text END AS text,
       |    lang
       |  FROM v1 WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1, text, lang FROM v1 WHERE doc_id % 103 = 0)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |  CASE WHEN v2.doc_id IS NOT NULL THEN v2.text END AS text,
       |  CASE WHEN v2.doc_id IS NOT NULL THEN v2.lang END AS lang,
       |  CASE WHEN v2.doc_id IS NULL THEN 'delete' ELSE 'upsert' END AS op,
       |  CAST(1 AS BIGINT) AS v
       |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
       |WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL
       |  OR v1.text IS DISTINCT FROM v2.text OR v1.lang IS DISTINCT FROM v2.lang)
       |ORDER BY doc_id""".stripMargin

  /** Deequ-shaped constraint suite over orders: pk uniqueness, payload
    * completeness/positivity (one fused aggregate pass), FK coverage into
    * customer, and a deliberately failing uniqueness rule so the verdict
    * column is exercised both ways (see operators.Constraints). */
  private def qConstraintsOrders(s: SparkSession, dir: String): DataFrame = {
    import operators.Constraints
    val orders = Tables.orders(s, dir)
    Constraints.rowRules(orders, Seq(
        Constraints.RowRule("orders_totalprice_complete",
          col("o_totalprice").isNotNull, 1000000L),
        Constraints.RowRule("orders_totalprice_positive",
          col("o_totalprice") > 0, 1000000L),
        Constraints.RowRule("orders_status_domain",
          col("o_orderstatus").isin("O", "F", "P"), 1000000L)))
      .unionByName(Constraints.unique(orders, "orders_pk_unique",
        Seq("o_orderkey")))
      .unionByName(Constraints.unique(orders, "orders_custkey_unique",
        Seq("o_custkey"))) // deliberately failing: customers repeat
      .unionByName(Constraints.fkCoverage(orders, "o_custkey",
        Tables.customer(s, dir), "c_custkey", "orders_custkey_fk"))
      .orderBy("constraint")
  }

  private val qConstraintsOrdersSql =
    s"""SELECT 'orders_totalprice_complete' AS "constraint",
       |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS actual_micros,
       |  SUM(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 AS satisfied FROM orders
       |UNION ALL
       |SELECT 'orders_totalprice_positive',
       |  CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_status_domain',
       |  CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_pk_unique',
       |  CAST(COUNT(DISTINCT o_orderkey) * 1000000 // COUNT(*) AS BIGINT),
       |  COUNT(DISTINCT o_orderkey) * 1000000 // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_custkey_unique',
       |  CAST(COUNT(DISTINCT o_custkey) * 1000000 // COUNT(*) AS BIGINT),
       |  COUNT(DISTINCT o_custkey) * 1000000 // COUNT(*) >= 1000000 FROM orders
       |UNION ALL
       |SELECT 'orders_custkey_fk',
       |  CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT),
       |  SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) >= 1000000
       |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
       |  ON o.o_custkey = c.c_custkey
       |ORDER BY "constraint"""".stripMargin

  /** Key-skew report for a fact table's join/grouping key: per-key top-10
    * heavy hitters with exact integer-micros share, plus the max/avg skew
    * factor every key row carries. One hash aggregate + a TakeOrdered
    * top-10 (orderBy+limit: each map partition contributes at most 10
    * pre-sorted rows, no single-task global window); rank is re-derived
    * over the 10 survivors by a broadcast self-join — the diagnostic you
    * run BEFORE deciding to salt a join (operators/SaltedJoin). */
  private def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = eventsBase(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum("n").as("total"),
      count(lit(1)).as("n_keys"), max("n").as("max_n"))
    val top = counts.orderBy(col("n").desc, col("user_id")).limit(10)
      .localCheckpoint(true)
    // rk(a) = |{b in top : b sorts at-or-before a}| over the 10-row result
    top.join(
        broadcast(top.select(col("n").as("o_n"), col("user_id").as("o_user"))),
        col("o_n") > col("n") ||
          (col("o_n") === col("n") && col("o_user") <= col("user_id")))
      .groupBy("user_id", "n").agg(count(lit(1)).cast("int").as("rk"))
      .crossJoin(broadcast(stats))
      .select(col("rk"), col("user_id"), col("n"),
        expr("n * 1000000 div total").as("share_micros"),
        expr("max_n * n_keys * 1000000 div total").as("skew_factor_micros"))
      .orderBy("rk")
  }

  /** Salt advisor (SaltedJoin.adviseSalts): the skew diagnosis turned
    * into actionable salt factors — a key is hot when it exceeds one
    * task's fair share; its factor is ceil(n * tasks / total). Run here
    * on event_type (5 keys over the whole table: every key is hot at 32
    * tasks — the degenerate low-cardinality join this operator exists
    * for). Exact integer arithmetic, fully oracle-replayed. */
  private def qSaltAdvisor(s: SparkSession, dir: String): DataFrame =
    operators.SaltedJoin.adviseSalts(
        eventsBase(s, dir).select("event_type"), "event_type", tasks = 32)
      .orderBy("event_type")

  private val qSaltAdvisorSql =
    s"""WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
       |SELECT event_type, n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_micros,
       |  CAST((n * 32 + total - 1) // total AS BIGINT) AS salt_factor
       |FROM c, t WHERE n * 32 > total ORDER BY event_type""".stripMargin

  /** Logical twin of partition expiry (sources.Retention): the per-day
    * row counts with the TTL verdict under a fixed cutoff day — pins the
    * day-bucket arithmetic and the strictly-below cutoff semantics
    * cross-engine; the physical directory-drop half is RetentionSpec's
    * (filesystem effects have no SQL oracle, the compaction precedent). */
  private def qRetentionExpiry(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).select(expr("ts_us div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_rows"))
      .withColumn("expired", col("day") < 19738L)
      .orderBy("day")

  private val qRetentionExpirySql =
    s"""SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n_rows,
       |  (epoch_us(ts) // 86400000000) < 19738 AS expired
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val qSkewReportSql =
    s"""WITH counts AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
       |stats AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys, MAX(n) AS max_n
       |  FROM counts),
       |ranked AS (SELECT user_id, n, row_number() OVER (
       |    ORDER BY n DESC, user_id) AS rk FROM counts)
       |SELECT rk, user_id, n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_micros,
       |  CAST(max_n * n_keys * 1000000 // total AS BIGINT) AS skew_factor_micros
       |FROM ranked CROSS JOIN stats WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** Partition-pruned aggregation: events written once as a hive-style
    * `event_type=` layout, then aggregated with a partition-column filter
    * — the scan lists ONE directory (PartitionedSpec pins the
    * PartitionFilters evidence; this gate pins the values against the
    * unpartitioned oracle). */
  private def qPartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"/tmp/graft_partitioned_${new java.io.File(dir).getName}"
    val src = Tables.events(s, dir).select("event_id", "ts", "user_id",
      "value", "event_type")
    sources.Partitioned.write(src, path, Seq("event_type"))
    // declared schema (the metastore convention): an empty corpus writes
    // no partition dirs, so inference would fail exactly on the empty-day
    // re-run
    sources.Partitioned.read(s, path, src.schema)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), msum(col("value")).as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qPartitionedPruneSql =
    s"""SELECT user_id, COUNT(*) AS n_purchases,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** File-level zone-map data skipping (sources.ZoneMaps): events are
    * re-laid-out CLUSTERED on `value` (range repartition + in-file sort,
    * so per-file value ranges are near-disjoint), a one-row-per-file
    * min/max index is built beside the data, and a selective range
    * aggregate then plans only the files whose range overlaps the
    * predicate — the skipping layer between hive-partition pruning
    * (whole directories) and parquet row-group stats (inside a file).
    * Pruning is sound (a file is dropped only when its whole [min, max]
    * misses the interval; the residual predicate re-filters survivors),
    * so the oracle is the SAME aggregate over the logical table —
    * byte-equality here proves no row was lost to skipping.
    * ZoneMapsSpec pins the complementary property the oracle can't see:
    * that files ARE skipped (candidate set strictly smaller than the
    * listing) and that the pruned plan equals the unpruned one. */
  private def qZonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_zonemap_${new java.io.File(dir).getName}"
    val ev = eventsRaw(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    ev.repartitionByRange(8, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(path)
    sources.ZoneMaps.writeIndex(s, path, Seq("value"))
    sources.ZoneMaps.prunedScan(s, path, "value", Some(300.0), None)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hi"), msum(col("value")).as("sum_value_micros"))
      .orderBy("event_type")
  }

  /** The table-maintenance tiers COMPOSED: events re-laid-out on the
    * Hilbert curve of (user_id, value-bucket), zone maps built over both
    * raw columns, and a 2-D box query pruned twice — first by file
    * ranges on user_id, then residually on value. A single-column sort
    * gives perfect pruning on one dimension and none on the other; the
    * curve layout gives tight per-file boxes in BOTH (the HilbertSpec
    * bounding-box measurement, here as a live query). Oracle: the plain
    * 2-D filter aggregate — soundness of stacked pruning under the
    * hash; the files-skipped evidence for this layout lives in
    * ZoneMapsSpec/HilbertSpec. */
  private def qZonemapHilbert(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_zm_hilbert_${new java.io.File(dir).getName}"
    val ev = eventsRaw(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("vb", floor(col("value")).cast("long"))
    operators.Hilbert.clusterBy2(ev, "user_id", "vb", partitions = 8)
      .write.mode("overwrite").parquet(path)
    sources.ZoneMaps.writeIndex(s, path, Seq("user_id", "value"))
    sources.ZoneMaps.prunedScan(s, path, "user_id", Some(100L), Some(400L))
      .where(col("value") >= 200.0 && col("value") <= 350.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_box"), msum(col("value")).as("sum_value_micros"))
      .orderBy("event_type")
  }

  private val qZonemapHilbertSql =
    s"""SELECT event_type, COUNT(*) AS n_box,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events
       |WHERE user_id >= 100 AND user_id <= 400
       |  AND value >= 200.0 AND value <= 350.0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val qZonemapPruneSql =
    s"""SELECT event_type, COUNT(*) AS n_hi,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM events WHERE value >= 300.0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Compaction planning (sources.Compaction): next-fit-decreasing bin
    * packing of per-(event_type, day) ingest segments into 32 KB target
    * bins — the planning half of small-file compaction, run here over
    * LOGICAL segment sizes (sum of row payload bytes) so the oracle can
    * re-derive every input exactly; physical file sizes differ per
    * engine. NFD is a pure sequential fold over the (bytes desc, item)
    * order, which DuckDB replays verbatim as a recursive CTE — every
    * bin assignment is under the hash, not just summary stats.
    * CompactionSpec covers the physical half (real file listing,
    * one-file-per-bin execution, content equality). */
  private def qCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val segs = eventsRaw(s, dir)
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
        (coalesce(length(col("props")), lit(0)) + lit(64))
          .cast("long").as("row_bytes"))
      .groupBy("event_type", "day")
      .agg(sum("row_bytes").as("bytes"))
      .select(concat_ws("/", col("event_type"), col("day")).as("item"),
        col("bytes"))
    sources.Compaction.plan(segs, targetBytes = 32768L)
      .orderBy("bin_id", "item")
  }

  private val qCompactionPlanSql =
    s"""WITH RECURSIVE segs AS (
       |  SELECT event_type || '/' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS item,
       |    CAST(SUM(COALESCE(length(props), 0) + 64) AS BIGINT) AS bytes
       |  FROM events GROUP BY 1),
       |ordered AS (
       |  SELECT item, bytes,
       |    row_number() OVER (ORDER BY bytes DESC, item) AS rn
       |  FROM segs),
       |pack AS (
       |  SELECT rn, item, bytes, CAST(0 AS BIGINT) AS bin_id, bytes AS acc
       |  FROM ordered WHERE rn = 1
       |  UNION ALL
       |  SELECT o.rn, o.item, o.bytes,
       |    CASE WHEN p.acc + o.bytes > 32768 THEN p.bin_id + 1 ELSE p.bin_id END,
       |    CASE WHEN p.acc + o.bytes > 32768 THEN o.bytes ELSE p.acc + o.bytes END
       |  FROM pack p JOIN ordered o ON o.rn = p.rn + 1)
       |SELECT bin_id, item, bytes FROM pack ORDER BY bin_id, item""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_salt_advisor", qSaltAdvisor, qSaltAdvisorSql),
    QuerySpec("q_retention_expiry", qRetentionExpiry, qRetentionExpirySql),
    QuerySpec("q_json_quarantine", qJsonQuarantine, qJsonQuarantineSql),
    QuerySpec("q_compaction_plan", qCompactionPlan, qCompactionPlanSql),
    QuerySpec("q_zonemap_prune", qZonemapPrune, qZonemapPruneSql),
    QuerySpec("q_zonemap_hilbert", qZonemapHilbert, qZonemapHilbertSql),
    QuerySpec("q_zorder_layout", qZorderLayout, qZorderLayoutSql),
    QuerySpec("q_hilbert_layout", qHilbertLayout, qHilbertLayoutSql),
    QuerySpec("q_table_diff", qTableDiff, qTableDiffSql),
    QuerySpec("q_apply_changes", qApplyChanges, qApplyChangesSql),
    QuerySpec("q_change_set", qChangeSet, qChangeSetSql),
    QuerySpec("q_constraints_orders", qConstraintsOrders, qConstraintsOrdersSql),
    QuerySpec("q_skew_report", qSkewReport, qSkewReportSql),
    QuerySpec("q_partitioned_prune", qPartitionedPrune, qPartitionedPruneSql)
  )
}
