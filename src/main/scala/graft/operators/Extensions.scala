package graft.operators

import graft.Tables._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** SURVEY.md §2.K — the engine's user-extension surface: scalar UDF, typed
  * UDAF (`Aggregator`), table-generating function, and a typed `Dataset[T]`
  * pipeline.
  *
  * Scale notes: a Scala UDF is a codegen black box (no pushdown through it,
  * per-row serialization) — acceptable for the API demo here; hot-path
  * scalar logic should become a native Catalyst expression instead (see
  * [[graft.functions.FloatDotProduct]], §7.4). The `Aggregator` is
  * partial-merge correct by construction (`merge` is exercised across
  * shuffle partitions), so it map-side combines exactly like a built-in
  * aggregate. The generator and typed pipeline run inside Tungsten encoders
  * — no Python/serialization wall.
  */
object Extensions {

  /** k2: weighted mean of price by quantity, accumulated in exact decimals
    * (order-independent — double summation would make the result depend on
    * partition merge order; BigDecimal sums are associative and exact on
    * 2dp inputs, matching the oracle's DECIMAL sums bit-for-bit). */
  case class PriceQty(l_extendedprice: Double, l_quantity: Double)
  case class WSums(wsum: BigDecimal, qsum: BigDecimal)

  object WeightedMean extends Aggregator[PriceQty, WSums, Double] {
    override def zero: WSums = WSums(BigDecimal(0), BigDecimal(0))
    override def reduce(b: WSums, a: PriceQty): WSums =
      WSums(b.wsum + BigDecimal(a.l_extendedprice) * BigDecimal(a.l_quantity),
        b.qsum + BigDecimal(a.l_quantity))
    override def merge(b1: WSums, b2: WSums): WSums =
      WSums(b1.wsum + b2.wsum, b1.qsum + b2.qsum)
    override def finish(b: WSums): Double =
      if (b.qsum.signum == 0) Double.NaN else b.wsum.toDouble / b.qsum.toDouble
    override def bufferEncoder: Encoder[WSums] = Encoders.product[WSums]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  case class Doc(doc_id: Long, text: String)
  case class Order(o_orderkey: Long, o_orderstatus: String, o_totalprice: Double)

  val queries: Map[String, Q] = Map(
    // k1: scalar UDF discountClass(l_discount) used as a grouping key.
    // Band edges compare exactly: l_discount is 2dp-exact, and the same
    // IEEE literals appear in the oracle's CASE WHEN.
    "k1_udf_scalar" -> ((s, d) => {
      val discountClass = udf((dsc: Double) =>
        if (dsc < 0.03) "low" else if (dsc < 0.07) "mid" else "high")
      t(s, d, "lineitem")
        .groupBy(discountClass(col("l_discount")).as("band"))
        .agg(count(lit(1)).as("item_cnt"),
          dbl(sum(dec(col("l_extendedprice"), 18, 2) *
            (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2)))).as("revenue"))
        .orderBy("band")
    }),

    // k2: typed Aggregator UDAF registered via functions.udaf
    "k2_udaf_aggregator" -> ((s, d) => {
      val wm = udaf(WeightedMean)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(wm(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"))
        .orderBy("l_returnflag")
    }),

    // k3: table-generating function — each doc explodes to its first 5
    // words with 1-based positions, via the native Catalyst `Generator`
    // [[graft.functions.FirstNWords]] (GenerateExec, no encoder round-trip;
    // also SQL-callable as first_n_words via GraftExtensions). The typed
    // flatMap formulation it replaced survives in ExtensionsSpec as the
    // differential baseline.
    "k3_udtf_generator" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.FirstNWords.firstNWords(col("text"), 5)
            .as(Seq("word", "position")))
        .orderBy("doc_id", "position")),

    // k6: the same weighted mean as k2, but as a native DeclarativeAggregate
    // — pure init/update/merge/eval expressions, whole-stage-codegen'd,
    // exact decimal buffers (order-independent partial merge)
    "k6_udaf_declarative" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(graft.functions.WeightedMeanDecl.weightedMean(
          col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"))
        .orderBy("l_returnflag")),

    // k5: native SQL function registration — the codegen FloatDotProduct
    // expression exposed to SQL text through the session FunctionRegistry
    // (the production path for hot scalar kernels: no UDF serialization,
    // participates in whole-stage codegen). Registration is idempotent and
    // self-contained, so the query works in any session; the table is
    // addressed through the inline parquet.`path` FROM-clause form, so
    // nothing leaks into the shared session catalog.
    "k5_sql_function" -> ((s, d) => {
      org.apache.spark.sql.GraftColumnBridge.registerFunction(s, "float_dot",
        graft.functions.FloatDotProduct.builder)
      s.sql(
        s"""SELECT vec_id, round(sqrt(float_dot(embedding, embedding)), 4) AS l2_norm
            FROM parquet.`$d/embeddings.parquet`
            ORDER BY vec_id""")
    }),

    // k4: typed Dataset pipeline: filter -> groupByKey -> mapGroups
    "k4_typed_dataset" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice").as[Order]
        .filter(_.o_totalprice > 100000.0)
        .groupByKey(_.o_orderstatus)
        .mapGroups { (k, it) =>
          var n = 0L
          var mx = Double.MinValue
          it.foreach { o => n += 1; if (o.o_totalprice > mx) mx = o.o_totalprice }
          (k, n, mx)
        }
        .toDF("o_orderstatus", "n_orders", "max_price")
        .orderBy("o_orderstatus")
    }),

    // k7: observed metrics (`Observation` / CollectMetrics) — the
    // idiomatic way a pipeline collects row-count/sum quality gates ON
    // THE SIDE of a real action, in the same pass (vs j13/j14's
    // dedicated validation scans). The observed aggregates ride the
    // write job's single scan: zero extra passes at any corpus size.
    // The action is a `noop`-format write — the sink production ETL
    // uses when only the metrics matter. (Distinct aggregates are not
    // allowed in observed metrics, so the gate uses count/sum/min/max.)
    "k7_observe_metrics" -> ((s, d) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      t(s, d, "orders")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"),
          min(col("o_totalprice")).as("min_total"),
          max(col("o_totalprice")).as("max_total"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("sum_total").asInstanceOf[Double],
        m("min_total").asInstanceOf[Double], m("max_total").asInstanceOf[Double]))
        .toDF("n_rows", "sum_total", "min_total", "max_total")
    }),

    // k8: SQL-LANGUAGE scalar function — Spark 4's `CREATE FUNCTION …
    // RETURNS … RETURN <expr>` (the SQL-standard UDF form): the body is a
    // SQL expression the ANALYZER INLINES into the calling plan, so unlike
    // k1's opaque JVM closure it stays inside whole-stage codegen, folds,
    // and pushes down like any built-in — the preferred extension shape
    // when the logic is expressible in SQL (k5 covers the native-Expression
    // registration path for logic that isn't). PlanShapeSpec pins the
    // inlining: the physical plan must contain NO udf node.
    "k8_sql_lang_udf" -> ((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
               RETURNS DOUBLE RETURN p * (1.0 - d)""")
      t(s, d, "lineitem").createOrReplaceTempView("k8_lineitem")
      s.sql("""SELECT l_orderkey, l_linenumber,
                 round(graft_disc_price(l_extendedprice, l_discount), 4) AS disc_price
               FROM k8_lineitem
               ORDER BY l_orderkey, l_linenumber""")
    }),

    // k9: SQL-LANGUAGE TABLE FUNCTION — the table-valued member of the
    // SQL-UDF family (k8 is the scalar): `CREATE FUNCTION … RETURNS TABLE
    // (…) RETURN <query>` defines a parameterized view, and a correlated
    // `LATERAL fn(t.col)` invocation applies it per row. The analyzer
    // DECORRELATES the inlined body into an ordinary equi-join — the
    // physical plan here is one BroadcastHashJoin, no per-row nested-loop
    // re-execution (pinned in PlanShapeSpec), so the "function call per
    // row" reads as relational algebra and scales like any join.
    //
    // MEASURED ENGINE HAZARD (probed this round, Spark 4.1.2): a LIMIT
    // inside the function body is hoisted ABOVE the correlation when the
    // lateral call is decorrelated — `… WHERE key = arg ORDER BY v LIMIT 3`
    // returns the GLOBAL top-3 then filters (1 row where the per-group
    // window form returns 63). Per-invocation LIMIT semantics are NOT
    // preserved; use a row_number window (e1's shape) for per-group top-k
    // and keep SQL-TVF bodies LIMIT-free. This key's body is a correlated
    // filter + projection, the shape the rewrite handles exactly.
    "k9_sql_table_function" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("k9_orders")
      t(s, d, "customer").createOrReplaceTempView("k9_customer")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_big_orders(ck BIGINT, floor_total DOUBLE)
               RETURNS TABLE (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
               RETURN SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM k9_orders
                      WHERE o_custkey = ck AND o_totalprice >= floor_total""")
      s.sql("""SELECT c.c_custkey, c.c_mktsegment, r.o_orderkey,
                 r.o_orderstatus, r.o_totalprice
               FROM k9_customer c, LATERAL graft_big_orders(c.c_custkey, 250000.0d) r
               ORDER BY c.c_custkey, o_orderkey""")
    }),

    // k10: the V2 FUNCTION CATALOG — the engine-native route for
    // catalog-scoped functions (docs at GraftFunctionCatalog): plain
    // SQL resolves `catalog.namespace.fn(...)` through the connector,
    // BINDS against actual argument types at analysis (the VARCHAR
    // mis-bind below must refuse before any task runs — gated), and
    // executes the scalar via the primitive MAGIC METHOD inside
    // codegen (no per-row boxing — ExtensionsSpec pins the Invoke
    // dispatch in the executed plan) and the aggregate via the V2
    // state/update/MERGE contract — gcd is associative + integer-
    // exact, so partial aggregation map-side combines like a built-in
    // and the result is partition-order-proof by construction.
    "k10_catalog_v2_function" -> ((s, d) => {
      catalog(s, "graft_fn", classOf[graft.functions.GraftFunctionCatalog])
      t(s, d, "orders").createOrReplaceTempView("k10_orders")
      val bad = scala.util.Try(s.sql(
        "SELECT graft_fn.math.gcd(o_orderstatus, o_custkey) FROM k10_orders")
        .queryExecution.analyzed)
      require(bad.isFailure,
        "k10: binding gcd to a VARCHAR argument must refuse at analysis")
      s.sql("""SELECT o_orderstatus AS st, count(*) AS n_rows,
               CAST(sum(graft_fn.math.gcd(o_orderkey, o_custkey)) AS BIGINT)
                 AS sum_gcd,
               graft_fn.math.gcd_agg(o_orderkey * 6L) AS agg_gcd
             FROM k10_orders WHERE o_orderkey < 4000
             GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })
  )

  val oracle: Map[String, String] = Map(
    // same gcd per row; the aggregate leg folds the group's values with
    // the scalar gcd — associative, so list order is irrelevant
    "k10_catalog_v2_function" ->
      """SELECT o_orderstatus AS st, count(*) AS n_rows,
           CAST(sum(gcd(o_orderkey, o_custkey)) AS BIGINT) AS sum_gcd,
           CAST(list_reduce(list(o_orderkey * 6), (a, b) -> gcd(a, b))
             AS BIGINT) AS agg_gcd
         FROM orders WHERE o_orderkey < 4000
         GROUP BY 1 ORDER BY 1""",

    "k1_udf_scalar" ->
      """SELECT CASE WHEN l_discount < 0.03 THEN 'low'
                     WHEN l_discount < 0.07 THEN 'mid'
                     ELSE 'high' END AS band,
           count(*) AS item_cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM lineitem GROUP BY 1 ORDER BY band""",

    "k2_udaf_aggregator" ->
      """SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS wavg_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "k3_udtf_generator" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(text), '[^a-z]+')) AS word,
                  generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1) AS pos0
           FROM documents),
         renum AS (
           SELECT doc_id, word,
                  row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS position
           FROM toks WHERE word <> '')
         SELECT doc_id, word, position FROM renum
         WHERE position <= 5 ORDER BY doc_id, position""",

    "k4_typed_dataset" ->
      """SELECT o_orderstatus, count(*) AS n_orders, max(o_totalprice) AS max_price
         FROM orders WHERE o_totalprice > 100000.0
         GROUP BY 1 ORDER BY o_orderstatus""",

    "k7_observe_metrics" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
         FROM orders""",

    // the inlined body verbatim: p * (1.0 - d) is the same IEEE op pair on
    // both engines, rounded by the §7.2 rule
    "k8_sql_lang_udf" ->
      """SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1.0 - l_discount), 4) AS disc_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "k6_udaf_declarative" ->
      """SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS wavg_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "k5_sql_function" ->
      """SELECT vec_id,
           round(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS l2_norm
         FROM embeddings ORDER BY vec_id""",

    // the decorrelated truth of the lateral TVF call: a plain equi-join
    // with the function body's filter
    "k9_sql_table_function" ->
      """SELECT c_custkey, c_mktsegment, o_orderkey, o_orderstatus, o_totalprice
         FROM customer JOIN orders ON o_custkey = c_custkey
         WHERE o_totalprice >= 250000.0
         ORDER BY c_custkey, o_orderkey"""
  )
}
