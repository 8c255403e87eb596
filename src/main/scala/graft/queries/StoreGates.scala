package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables.{load => t}

import QueryDef.dec

/** Store and source/sink gates: the store primitives (CDC apply, SCD2
  * history, bucketed co-located join, Z-order, matview rewrite) and the
  * file-format round trips. Each runs the REAL store or writer code
  * against a temp directory and hash-matches a one-shot SQL
  * reconstruction.
  */
object StoreGates {

  // ---------------------------------------------------------- snapshot diff
  // Table-version diff: FULL OUTER on the key classifies every row as
  // added / removed / changed (null-free attribute compare), emitting
  // only the delta — the inverse of applyCdc (derive a changelog FROM
  // two snapshots when the upstream has none, e.g. the reference's
  // daily full refetch). The two versions are derived deterministically
  // from customer (dropped keys, bumped balances); the `+ 10` is a
  // single IEEE add, identical bits in both engines.
  private val q112 = QueryDef(
    "q112_snapshot_diff",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val v1 = c.filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey").as("k1"), col("c_name").as("name1"),
          col("c_acctbal").as("bal1"))
      val v2 = c.filter(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey").as("k2"), col("c_name").as("name2"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal")).as("bal2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .select(coalesce(col("k1"), col("k2")).as("k"),
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("bal1") =!= col("bal2") || col("name1") =!= col("name2"), "changed")
            .otherwise("same").as("change"),
          col("bal1").as("old_bal"), col("bal2").as("new_bal"))
        .filter(col("change") =!= "same")
        .orderBy("k")
    },
    Some("""WITH v1 AS (SELECT c_custkey k, c_name, c_acctbal
               FROM customer WHERE c_custkey % 13 <> 0),
      v2 AS (SELECT c_custkey k, c_name,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal
             FROM customer WHERE c_custkey % 11 <> 0)
      SELECT coalesce(v1.k, v2.k) AS k,
        CASE WHEN v1.k IS NULL THEN 'added'
             WHEN v2.k IS NULL THEN 'removed'
             WHEN v1.c_acctbal <> v2.c_acctbal OR v1.c_name <> v2.c_name THEN 'changed'
             ELSE 'same' END AS change,
        v1.c_acctbal AS old_bal, v2.c_acctbal AS new_bal
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
      WHERE v1.k IS NULL OR v2.k IS NULL
         OR v1.c_acctbal <> v2.c_acctbal OR v1.c_name <> v2.c_name
      ORDER BY k"""),
    covers = Seq("S-diff", "J-full-outer"))

  /** Input fixtures written once per (context, key): single-flight, so
    * two concurrent executions never race overlapping writes to one
    * shared path, which would corrupt the fixture for every later read
    * in the context.
    */
  private val fixtures = new graft.ContextMemo[String, Unit]

  private def tmpStore(s: SparkSession, prefix: String): graft.store.TableStore =
    new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory(prefix).toString)

  // ------------------------------------------------- CDC changelog apply
  // store/TableStore.applyCdc folded over three derived changelog
  // batches: inserts (b0: every 3rd customer), updates (b1: +10 bal
  // on every 7th), deletes (b2: every 13th) — versions 1/2/3. The
  // final state must equal the oracle's one-shot latest-wins
  // reconstruction: update wins over insert, delete removes, and
  // replay safety comes from version comparison, not arrival order.
  private val q187 = QueryDef(
    "q187_cdc_apply",
    (s, dir) => {
      val store = tmpStore(s, "graft_cdc")
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val b0 = c.filter(col("c_custkey") % 3 === 0)
        .withColumn("op", lit("I")).withColumn("v", lit(1L))
      val b1 = c.filter(col("c_custkey") % 3 === 0 && col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 10)
        .withColumn("op", lit("U")).withColumn("v", lit(2L))
      val b2 = c.filter(col("c_custkey") % 3 === 0 && col("c_custkey") % 13 === 0)
        .withColumn("op", lit("D")).withColumn("v", lit(3L))
      Seq(b0, b1, b2).foreach(b =>
        store.applyCdc("cust", b, "c_custkey", "v"))
      store.read("cust").get
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("v"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal,
        CAST(CASE WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS v
      FROM customer
      WHERE c_custkey % 3 = 0 AND c_custkey % 13 <> 0
      ORDER BY c_custkey"""),
    covers = Seq("S-cdc-gate"))

  // --------------------------------------------------- SCD2 history build
  // store/TableStore.scd2Upsert over two batches: day-1 base rows,
  // then day-2 changes (every 5th customer's balance moves). The
  // resulting history must show exactly one closed version (valid_to
  // = day 2) plus one open current version for changed keys, and a
  // single open version for untouched keys — reconstructed by the
  // oracle from the change predicate alone.
  private val q188 = QueryDef(
    "q188_scd2_history",
    (s, dir) => {
      val store = tmpStore(s, "graft_scd2")
      val c = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val d1 = c.withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val d2 = c.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
        .withColumn("ts", lit("2026-01-02 00:00:00").cast("timestamp"))
      store.scd2Upsert("cust", d1, "c_custkey", "ts")
      store.scd2Upsert("cust", d2, "c_custkey", "ts")
      store.read("cust").get
        .select(col("c_custkey"), col("c_acctbal"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("c_custkey", "valid_from")
    },
    Some("""WITH base AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0)
      SELECT c_custkey, c_acctbal,
        TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
        CASE WHEN c_custkey % 5 = 0 THEN TIMESTAMP '2026-01-02 00:00:00' END AS valid_to,
        c_custkey % 5 <> 0 AS is_current
      FROM base
      UNION ALL
      SELECT c_custkey, c_acctbal + 100,
        TIMESTAMP '2026-01-02 00:00:00', NULL, true
      FROM base WHERE c_custkey % 5 = 0
      ORDER BY c_custkey, valid_from"""),
    covers = Seq("S-scd2-gate"))

  // ---------------------------------------------- bucketed co-located join
  // operators/BucketedStore under the oracle: lineitem and orders are
  // written bucketed+sorted on the join key, then joined and
  // aggregated — the physical plan has NO Exchange before the join
  // (asserted in Round12QueriesSpec; the write paid the partitioning
  // once). The oracle runs the plain join: bucketing must never
  // change results, only the plan.
  // Input-fixture cache (the streaming gates' cachedSrc pattern): the
  // two bucketed tables are a pure function of (context, dir), and the
  // bench executes the gate three times — so the drop+write setup runs
  // once per (context, dir) and later executions exercise only the
  // gate's actual semantic, the exchange-free co-bucketed join. The
  // oracle joins the raw tables, so the shared fixture cannot mask a
  // defect. [[fixtures]] makes the write single-flight.

  private val q189 = QueryDef(
    "q189_bucketed_join",
    (s, dir) => {
      val bs = new graft.operators.BucketedStore(s)
      fixtures(s, "bucketed:" + dir) {
        // a fresh in-memory catalog does not know about tables a prior
        // session left in the warehouse dir — drop the entry AND the
        // location, or CREATE TABLE fails on the orphaned directory
        Seq("g12_li", "g12_ord").foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val loc = new org.apache.hadoop.fs.Path(
            s.sessionState.conf.warehousePath, tbl)
          loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
        }
        bs.writeBucketed(
          t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
          "g12_li", "l_orderkey", 8)
        bs.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          "g12_ord", "o_orderkey", 8)
      }
      // the merge hint keeps the tiny test tables off the broadcast
      // path: a sort-merge join over co-bucketed scans is the shape
      // that needs NO Exchange (what the gate + spec prove); at real
      // scale the sides exceed the broadcast threshold and plan this
      // way on their own
      bs.read("g12_li").hint("merge")
        .join(bs.read("g12_ord"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("S-bucketed-gate"))

  // --------------------------------------------- z-order interleave
  // The actual Morton-curve bit math behind graft.store.ZOrder
  // (q187-q189 gate the store's OTHER primitives), pinned against an
  // oracle that rebuilds the interleave from shifts and masks: result
  // bit (2i+j) must be bit i of dimension j, for every row. Aggregated
  // sums/extrema over the full fact table make the hash cover each
  // row's z-value without dumping 600k rows. The projection is pure
  // column arithmetic — codegen-friendly, no UDF.
  private val q203 = QueryDef(
    "q203_zorder_interleave",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val z = graft.store.ZOrder.interleave(
        Seq(expr("l_partkey % 1024").cast("long"),
          expr("l_suppkey % 1024").cast("long")),
        bits = 10)
      li.select(col("l_returnflag"), z.as("zv"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("zv")).as("sum_z"),
          min(col("zv")).as("min_z"),
          max(col("zv")).as("max_z"))
        .orderBy("l_returnflag")
    },
    Some("""WITH z AS (
        SELECT l_returnflag,
          list_sum(list_transform(range(0, 10),
            i -> (((l_partkey % 1024) >> i) & 1) * (1::BIGINT << (2*i))
               + (((l_suppkey % 1024) >> i) & 1) * (1::BIGINT << (2*i + 1)))) AS zv
        FROM lineitem)
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(zv) AS BIGINT) AS sum_z,
        CAST(MIN(zv) AS BIGINT) AS min_z,
        CAST(MAX(zv) AS BIGINT) AS max_z
      FROM z GROUP BY 1 ORDER BY l_returnflag"""),
    covers = Seq("STORE-zorder-math"))

  // --------------------------------------------- CSV round-trip fidelity
  // The S5 CSV sink under the oracle: every document's text is salted
  // with the characters that break naive CSV (comma, double-quote,
  // embedded newline), written through Spark's quoting CSV writer,
  // and read back with multiLine parsing. The gate compares per-row
  // md5 digests of the ROUND-TRIPPED payload against an oracle that
  // digests the same constructed payload straight from the source
  // table — any quoting/escaping/encoding loss in the write→read
  // cycle changes a digest and hash-mismatches. (The BOM quirk and
  // JSONL layout have their own specs; this pins the parser-level
  // fidelity contract.)
  private val q204 = QueryDef(
    "q204_csv_roundtrip",
    (s, dir) => {
      val payload = concat(lit("a,\"quoted\"\nline2 "), col("text"))
      val src = t(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"))
      val path = "/tmp/graft_gate_csv_roundtrip"
      src.write.mode("overwrite")
        .option("header", "true")
        .csv(path)
      s.read
        .option("header", "true")
        .option("multiLine", "true")
        .schema("doc_id LONG, payload STRING")
        .csv(path)
        .select(col("doc_id"),
          length(col("payload")).as("n_chars"),
          md5(col("payload").cast("binary")).as("digest"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        CAST(length(payload) AS INTEGER) AS n_chars,
        md5(payload) AS digest
      FROM (SELECT doc_id,
              'a,"quoted"' || chr(10) || 'line2 ' || text AS payload
            FROM documents)
      ORDER BY doc_id"""),
    covers = Seq("SRC-csv-roundtrip"))

  // ----------------------------------- partitioned write + pruned read
  // The S4/S6 partition-layout contract under the oracle: orders
  // write out partitioned by month directory (ym=YYYY-MM), the
  // read-back filters ONE month — which prunes to a single directory
  // before any file opens (Round17QueriesSpec asserts the scan's
  // partition count) — and aggregates it. The oracle computes the
  // same month straight from the source table, so a row lost or
  // duplicated by the partitioned write, or a partition-value
  // mangling (type inference is disabled by comparing as string),
  // hash-mismatches.
  // partitioned-layout fixture, written once per (context, dir) — the
  // q189 pattern: the gate's timed semantic is the PRUNED READ, and a
  // row lost/duplicated or a partition value mangled by the write
  // still hash-mismatches every execution in the context because the
  // oracle reads the raw table

  private val q205 = QueryDef(
    "q205_partition_prune",
    (s, dir) => {
      val path = "/tmp/graft_gate_partitioned_orders"
      fixtures(s, "pruned:" + dir) {
        t(s, dir, "orders")
          .withColumn("ym", substring(col("o_orderdate"), 1, 7))
          .write.mode("overwrite").partitionBy("ym").parquet(path)
      }
      s.read.parquet(path)
        .filter(col("ym") === "1995-03")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE substr(CAST(o_orderdate AS VARCHAR), 1, 7) = '1995-03'
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    covers = Seq("SRC-partition-prune"))

  // ------------------------------------------- schema-evolution read
  // The S6 posture under the oracle: two parquet batches whose schemas
  // drifted (the newer one adds a column) land in one directory; a
  // mergeSchema read reconciles them by NAME — early rows surface the
  // missing column as NULL — and aggregates both eras. Losing a
  // column, misaligning by position, or dropping either batch
  // hash-mismatches against an oracle that rebuilds the union from
  // the source table. (q89 gates the in-memory unionByName twin.)
  private val q217 = QueryDef(
    "q217_merge_schema_read",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val path = "/tmp/graft_gate_merge_schema"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("append").parquet(path)
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("price").isNull, 1L).otherwise(0L)).as("n_pre_schema"),
          sum(col("price")).cast("double").as("revenue_post"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pre_schema,
        CAST(SUM(CASE WHEN o_orderkey % 2 = 1
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS revenue_post
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    covers = Seq("SRC-merge-schema"))

  // ------------------------------------------- nested JSONL fidelity
  // The S4 JSONL sink with NESTED payloads: each document wraps into
  // a struct with an array field and a sub-struct, writes through
  // Spark's JSON sink (its native output is JSONL), reads back with
  // an explicit schema, and digests the reassembled fields. Nesting
  // loss, array reordering, or unicode mangling in the write→read
  // cycle hash-mismatches the no-I/O oracle. (q204 pins the CSV twin;
  // MalformedJsonSpec covers the corrupt-input side.)
  private val q219 = QueryDef(
    "q219_jsonl_roundtrip",
    (s, dir) => {
      val src = t(s, dir, "documents").select(
        col("doc_id"),
        struct(
          col("source"),
          split(col("text"), " ").as("tokens"),
          struct(col("lang"), col("n_chars")).as("meta")).as("payload"))
      val path = "/tmp/graft_gate_jsonl_roundtrip"
      src.write.mode("overwrite").json(path)
      s.read
        .schema("doc_id LONG, payload STRUCT<source: STRING, " +
          "tokens: ARRAY<STRING>, meta: STRUCT<lang: STRING, n_chars: LONG>>")
        .json(path)
        .select(col("doc_id"),
          col("payload.source").as("source"),
          size(col("payload.tokens")).as("n_tokens"),
          md5(array_join(col("payload.tokens"), " ").cast("binary")).as("tok_digest"),
          col("payload.meta.lang").as("lang"),
          col("payload.meta.n_chars").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        md5(array_to_string(string_split(text, ' '), ' ')) AS tok_digest,
        lang, n_chars
      FROM documents ORDER BY doc_id"""),
    covers = Seq("SRC-jsonl-nested"))

  // ------------------------------------------------- MV rewrite parity
  // The materialized-view rewrite under the oracle: an AggTable is
  // folded over three arrival batches of lineitem, the base path is
  // registered with [[graft.plans.MatViewRewrite]], and the gate runs
  // a plain `base.groupBy(flag, status).agg(...)` — which the rule
  // answers from the O(groups) state. The oracle aggregates the base
  // table directly in DuckDB, so hash-equality proves the rewritten
  // answer is bit-identical to a fresh corpus scan (the rule's
  // contract). The rule is installed in every session by
  // SessionDefaults and reads only the registrations of the session
  // it optimizes for; the gate registers in its own clone of the
  // caller's session ([[QueryDef.session]] with no confs: one clone
  // per caller, each execution replacing the registration) and runs
  // its query there, so the rewrite never reaches a neighbor's plan
  // and the returned frame is the query the rule rewrote. Not a clone
  // per execution: a clone copies its parent's query listeners, and a
  // session with listeners adds a listener bus to the context, so each
  // execution would have left one behind.
  private val q244 = QueryDef(
    "q244_matview_parity",
    (s, dir) => {
      import graft.plans.MatViewRewrite
      val basePath = s"$dir/lineitem.parquet"
      val root = java.nio.file.Files.createTempDirectory("graft_mv").toString
      val spec = graft.store.AggSpec(
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val aggTable = new graft.store.AggTable(
        new graft.store.TableStore(s, root), "li_stats", spec)
      val base = t(s, dir, "lineitem")
      (0 to 2).foreach(b =>
        aggTable.accumulate(s"b$b", base.filter(col("l_orderkey") % 3 === b)))
      val mv = QueryDef.session(s, Nil)
      MatViewRewrite.register(mv, basePath, aggTable)
      val q = t(mv, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("min_qty"), col("max_qty"))
        .orderBy("l_returnflag", "l_linestatus")
      // the gate must actually exercise the rewrite — fail loudly if
      // the base scan survived optimization
      require(q.inputFiles.exists(_.contains("li_stats/state")),
        s"matview rewrite did not fire; scans=${q.inputFiles.mkString(", ")}")
      q
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        MIN(l_quantity) AS min_qty,
        MAX(l_quantity) AS max_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("MV-rewrite"))

  // ------------------------------------------------- ORC round-trip
  // The third file format next to CSV (q204) and JSONL (q219): write
  // the documents table to ORC, read it back, and digest every row —
  // any loss in the write→read cycle (encoding, nulls, column order)
  // changes an md5 and hash-mismatches against the direct-from-parquet
  // oracle. ORC ships in Spark core (native reader/writer, predicate
  // pushdown and column pruning like parquet), so the engine's store
  // can serve either columnar format.
  private val q267 = QueryDef(
    "q267_orc_roundtrip",
    (s, dir) => {
      val path = "/tmp/graft_gate_orc_roundtrip"
      t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("doc_id"),
          md5(concat_ws("|", col("text"), col("lang"), col("source"),
            col("n_chars").cast("string")).cast("binary")).as("digest"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        md5(concat_ws('|', text, lang, source, CAST(n_chars AS VARCHAR)))
          AS digest
      FROM documents ORDER BY doc_id"""),
    covers = Seq("S-orc"))

  val all: Seq[QueryDef] = Seq(q112, q187, q188, q189, q203, q204, q205,
    q217, q219, q244, q267)
}
