package graft
package queries

import org.apache.spark.sql.functions._
import graft.engine.{Catalog, Frame, JoinType, Raw}
import graft.engine.{Exprs => E}
import graft.ops.TextOps

/** The reference engine's query surface (SURVEY.md section 2): scan,
  * selection, projection, the binary and scalar expression set, grouped
  * and global aggregates, the join family, catalog + CSV/text/JSON/ORC
  * sources and the SQL frontend over registered views. */
private[graft] object ParityQueries {
  import Fixtures._

  val specs: Seq[QuerySpec] = Seq(
    // ---- §2.1 Scan ----------------------------------------------------
    QuerySpec("q_scan", (s, dir) => {
      val c = new Catalog(s).addParquetTable("region", s"$dir/region.parquet")
      c.table("region").df
    }, "SELECT r_regionkey, r_name FROM region"),

    // ---- §2.1 Scan→Selection→Projection (the canonical pipeline) ------
    QuerySpec("q_filter_project", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .filter(E.col("l_quantity") >= E.lit(45.0) &&
          (E.col("l_returnflag") === E.lit("R")))
        .project(E.col("l_orderkey"), E.col("l_linenumber"),
          E.col("l_quantity"), E.col("l_extendedprice"))
        .df
    }, """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'""".stripMargin),

    // ---- §2.1 Projection with computed expression ---------------------
    QuerySpec("q_projection", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .project(E.col("l_orderkey"), E.col("l_linenumber"),
          (E.col("l_extendedprice") * (E.lit(1.0) - E.col("l_discount")))
            .as("revenue"))
        .df
    }, """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue FROM lineitem""".stripMargin),

    // ---- §2.2 all 13 binary ops (comparison, boolean, arithmetic) -----
    QuerySpec("q_binary_ops", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .filter(E.col("l_orderkey") <= E.lit(1000L))
        .project(
          E.col("l_orderkey"), E.col("l_linenumber"),
          (E.col("l_returnflag") === E.lit("R")).as("c_eq"),
          (E.col("l_linestatus") =!= E.lit("F")).as("c_neq"),
          (E.col("l_quantity") > E.lit(30.0)).as("c_gt"),
          (E.col("l_quantity") >= E.lit(30.0)).as("c_gte"),
          (E.col("l_quantity") < E.lit(10.0)).as("c_lt"),
          (E.col("l_quantity") <= E.lit(10.0)).as("c_lte"),
          ((E.col("l_quantity") > E.lit(30.0) &&
            (E.col("l_discount") < E.lit(0.05))) ||
            (E.col("l_tax") > E.lit(0.05))).as("c_bool"),
          (E.col("l_quantity") + E.col("l_tax")).as("a_add"),
          (E.col("l_extendedprice") - E.lit(100.0)).as("a_sub"),
          (E.col("l_extendedprice") * E.col("l_discount")).as("a_mul"),
          (E.col("l_extendedprice") / E.col("l_quantity")).as("a_div"),
          (E.col("l_partkey") % E.lit(7L)).as("a_mod"))
        .df
    }, """SELECT l_orderkey, l_linenumber,
        |  l_returnflag = 'R' AS c_eq,
        |  l_linestatus != 'F' AS c_neq,
        |  l_quantity > 30 AS c_gt,
        |  l_quantity >= 30 AS c_gte,
        |  l_quantity < 10 AS c_lt,
        |  l_quantity <= 10 AS c_lte,
        |  (l_quantity > 30 AND l_discount < 0.05) OR l_tax > 0.05 AS c_bool,
        |  l_quantity + l_tax AS a_add,
        |  l_extendedprice - 100.0 AS a_sub,
        |  l_extendedprice * l_discount AS a_mul,
        |  l_extendedprice / l_quantity AS a_div,
        |  l_partkey % 7 AS a_mod
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),

    // ---- §2.2 scalar fns CONCAT/SUBSTRING/ABS/SQRT/POWER --------------
    QuerySpec("q_scalar_fns", (s, dir) => {
      Frame(t(s, dir, "part"))
        .project(E.col("p_partkey"),
          E.concat(E.col("p_brand"), E.lit("_"), E.col("p_type")).as("brand_type"),
          E.substring(E.col("p_name"), E.lit(3), E.lit(10)).as("name_sub"),
          E.abs(E.col("p_retailprice") - E.lit(1500.0)).as("price_dev"),
          E.sqrt(E.col("p_size")).as("size_sqrt"),
          E.power(E.col("p_size"), E.lit(2)).as("size_sq"))
        .df
    }, """SELECT p_partkey,
        |  concat(p_brand, '_', p_type) AS brand_type,
        |  substring(p_name, 3, 10) AS name_sub,
        |  abs(p_retailprice - 1500.0) AS price_dev,
        |  sqrt(p_size) AS size_sqrt,
        |  power(p_size, 2) AS size_sq
        |FROM part""".stripMargin),

    // ---- §2.1+2.3 grouped aggregation, all 5 agg fns (TPC-H Q1 shape) -
    QuerySpec("q_agg_grouped", (s, dir) => {
      Frame(t(s, dir, "lineitem")).aggregate(
        Seq(E.col("l_returnflag"), E.col("l_linestatus")),
        Seq(
          Raw(sum(col("l_quantity")).as("sum_qty"), "sum_qty"),
          Raw(dsum(col("l_extendedprice")).as("sum_base"), "sum_base"),
          Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"), "sum_disc_price"),
          Raw((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"), "avg_qty"),
          Raw(min(col("l_extendedprice")).as("min_price"), "min_price"),
          Raw(max(col("l_extendedprice")).as("max_price"), "max_price"),
          Raw(count(lit(1)).as("count_order"), "count_order"))).df
    }, """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // ---- §2.3 global aggregate ----------------------------------------
    QuerySpec("q_agg_global", (s, dir) => {
      Frame(t(s, dir, "orders")).aggregate(Seq.empty,
        Seq(
          Raw(dsum(col("o_totalprice")).as("sum_price"), "sum_price"),
          Raw(min(col("o_totalprice")).as("min_price"), "min_price"),
          Raw(max(col("o_totalprice")).as("max_price"), "max_price"),
          Raw((dsum(col("o_totalprice")) / count(col("o_totalprice")))
            .as("avg_price"), "avg_price"),
          Raw(count(lit(1)).as("n_orders"), "n_orders"))).df
    }, """SELECT
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_price,
        |  count(*) AS n_orders
        |FROM orders""".stripMargin),

    // ---- §2.3 group-by-computed-expression (ref aggr/mod.rs:264-296) --
    QuerySpec("q_agg_expr", (s, dir) => {
      Frame(t(s, dir, "lineitem")).aggregate(
        Seq((E.col("l_quantity") <= E.lit(25.0)).as("small_qty")),
        Seq(Raw(count(lit(1)).as("n"), "n"),
          Raw(sum(col("l_quantity")).as("sum_qty"), "sum_qty"))).df
    }, """SELECT l_quantity <= 25 AS small_qty, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ---- §2.1 joins: inner through two dimensions (broadcast at scale) -
    QuerySpec("q_join_inner", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .aggregate(Seq(E.col("r_name"), E.col("n_name")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"),
            Raw(dsum(col("c_acctbal")).as("sum_bal"), "sum_bal"))).df
    }, """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // ---- §2.1 left outer join -----------------------------------------
    QuerySpec("q_join_left", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Left)
        .aggregate(Seq(E.col("c_custkey")),
          Seq(Raw(count(col("o_orderkey")).as("n_orders"), "n_orders"))).df
    }, """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    // ---- §2.1 right outer join ----------------------------------------
    QuerySpec("q_join_right", (s, dir) => {
      Frame(t(s, dir, "orders"))
        .join(Frame(t(s, dir, "customer")), Seq(("o_custkey", "c_custkey")),
          JoinType.Right)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(col("o_orderkey")).as("n_orders"), "n_orders"),
            Raw(count(lit(1)).as("n_rows"), "n_rows"))).df
    }, """SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- §2.1 multi-key equi-join (ref nested_loop_join.rs:201-248) ---
    QuerySpec("q_join_multikey", (s, dir) => {
      val a = Frame(t(s, dir, "lineitem"))
      val b = Frame(t(s, dir, "lineitem"))
      a.join(b, Seq(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber")))
        .df.agg(count(lit(1)).as("n"),
          sum(a.df("l_quantity") * b.df("l_quantity")).as("sum_qq"))
    }, """SELECT count(*) AS n, sum(a.l_quantity * b.l_quantity) AS sum_qq
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber""".stripMargin),

    // ---- extension: left semi join (EXISTS) — customers with orders ---
    QuerySpec("q_join_semi", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Semi)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"))).df
    }, """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- extension: left anti join (NOT EXISTS) — order-less customers
    QuerySpec("q_join_anti", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Anti)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"))).df
    }, """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- extension: full outer join — both sides filtered so both
    // null-extension directions are actually exercised ------------------
    QuerySpec("q_join_full", (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 900)
      val o = t(s, dir, "orders").where(col("o_custkey") >= 800)
      Frame(c).join(Frame(o), Seq(("c_custkey", "o_custkey")), JoinType.FullOuter)
        .aggregate(Seq.empty,
          Seq(Raw(count(lit(1)).as("n_rows"), "n_rows"),
            Raw(count(col("c_custkey")).as("n_left"), "n_left"),
            Raw(count(col("o_orderkey")).as("n_right"), "n_right"),
            Raw(count(when(col("c_custkey").isNull, lit(1))).as("n_left_null"),
              "n_left_null"))).df
    }, """SELECT count(*) AS n_rows, count(c_custkey) AS n_left,
        |  count(o_orderkey) AS n_right,
        |  count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_left_null
        |FROM (SELECT * FROM customer WHERE c_custkey <= 900) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey >= 800) o
        |  ON c_custkey = o_custkey""".stripMargin),

    // ---- §2.4 catalog + CSV source (ref catalog.rs + csv_table.rs) ----
    QuerySpec("q_csv_catalog", (s, _) => {
      val c = new Catalog(s)
        .addCsvTable("people", "/root/repo/src/test/resources/data/people.csv")
      c.table("people")
        .filter(E.col("age") >= E.lit(24))
        .project(E.col("name"), E.col("score"))
        .df
    }, """SELECT name, score
        |FROM read_csv_auto('/root/repo/src/test/resources/data/people.csv')
        |WHERE age >= 24""".stripMargin),

    // line-oriented text source: one row per line, zero parsing — the
    // rawest corpus ingest format (WET extracts, one-doc-per-line
    // dumps); downstream expressions do the splitting, as they should
    // at 100 TB (Catalog.addTextTable)
    QuerySpec("q_text_source", (s, _) => {
      val c = new Catalog(s)
        .addTextTable("corpus_raw", "/root/repo/src/test/resources/data/corpus.txt")
      c.table("corpus_raw").df
        .select(col("value"), length(col("value")).cast("long").as("n_chars"),
          TextOps.nTokens(col("value")).cast("long").as("n_tokens"))
    }, """WITH l AS (
        |  SELECT unnest(string_split(content, chr(10))) AS value
        |  FROM read_text('/root/repo/src/test/resources/data/corpus.txt'))
        |SELECT value, CAST(length(value) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN trim(value) = '' THEN 0
        |       ELSE len(string_split_regex(trim(value), '\s+')) END
        |    AS BIGINT) AS n_tokens
        |FROM l WHERE value <> ''""".stripMargin),

    // dirty-ingestion contract: enforced schema + DROPMALFORMED skips
    // the three broken lines in the fixture, keeps the five clean rows
    QuerySpec("q_json_malformed", (s, _) =>
      new Catalog(s).addJsonTableStrict("docs_dirty",
          "/root/repo/src/test/resources/data/docs_malformed.jsonl",
          "id BIGINT, text STRING, lang STRING")
        .table("docs_dirty").df
        .select(col("id"), col("text"), col("lang")),
      // DuckDB's ignore_errors nulls unparseable lines instead of
      // dropping them — filter to mirror Spark's DROPMALFORMED
      """SELECT id, text, lang FROM read_json(
        |  '/root/repo/src/test/resources/data/docs_malformed.jsonl',
        |  format = 'newline_delimited',
        |  columns = {'id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'},
        |  ignore_errors = true)
        |WHERE id IS NOT NULL""".stripMargin),

    // JSON source parity: write nation as JSON lines, read it back
    // through the catalog's JSON source (schema inferred), and the
    // round-trip must equal the parquet original
    QuerySpec("q_json_roundtrip", (s, dir) => {
      val path = "/tmp/graft_rt/nation_json"
      t(s, dir, "nation").write.mode("overwrite").json(path)
      new Catalog(s).addJsonTable("nation_json_rt", path)
        .table("nation_json_rt").df
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      // the round-trips must reproduce the parquet original exactly
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // ORC source parity, same round-trip shape
    QuerySpec("q_orc_roundtrip", (s, dir) => {
      val path = "/tmp/graft_rt/nation_orc"
      t(s, dir, "nation").write.mode("overwrite").orc(path)
      new Catalog(s).addOrcTable("nation_orc_rt", path)
        .table("nation_orc_rt").df
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }, "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // ---- SQL frontend over registered catalog views -------------------
    QuerySpec("q_sql_frontend", (s, dir) => {
      Catalog.forTestdata(s, dir)
      s.sql("""SELECT o_orderpriority, count(*) AS n FROM orders
               WHERE o_totalprice > 100000 GROUP BY o_orderpriority""")
    }, """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_totalprice > 100000 GROUP BY o_orderpriority""".stripMargin))
}
