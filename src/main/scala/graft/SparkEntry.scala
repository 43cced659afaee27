package graft

import graft.operators._
import graft.operators.SortOps.SortBy
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry pairs a Spark implementation with DuckDB oracle SQL over
  * the same parquet tables. Oracle-parity rules used throughout (the
  * engines round doubles differently at representation boundaries):
  *   - money sums (exact 2-dec data) → round(·,2) (error ≪ grid);
  *     4-dec product sums → sum in DECIMAL(20,4) then cast double: at
  *     billion-scale magnitudes the accumulated double error exceeds any
  *     fine rounding grid, but the exact decimal sum is engine-invariant.
  *   - ratios/averages → IEEE division of identically-computed operands
  *     (bit-reproducible), never round(avg(·)).
  *   - sums of full-precision random doubles → round(·,2) only.
  *   - every query ends in a total ORDER BY on a unique key.
  */
object SparkEntry {

  /** Collision-free /tmp scratch tag for a dataset dir: the full path,
    * sanitized — two distinct dirs can never share an index/roundtrip
    * location (Int hashCode could collide, and math.abs(Int.MinValue)
    * is still negative). */
  private def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** stream_semantic_ingest's sidecar-crossover tracking (round-16
    * verdict item 8): the one streaming operator whose per-batch cost
    * grows with corpus size (each bulk batch scans the sketch sidecar
    * once); the round-11 decision keeps the flat layout until sidecar
    * bytes ≈ 50× batch bytes, so the gate measures the ratios every run
    * and the crossover is tracked by artifact data, not memory.
    *
    *   - `sidecar_batch_byte_ratio` prices the RETIRED flat layout
    *     (whole sidecar re-read per batch);
    *   - the v2 two-store model (r18) prices what a batch actually
    *     reads: `bands_` — the full skinny (band_hash,id) store on the
    *     BULK arm (m uniform probe hashes over G row groups hit
    *     ≈ min(m, G) of them under ANY layout; SketchSidecar doc),
    *     bloom-pruned row groups on the trickle arm — and `sets_` —
    *     candidate-pruned past PruneMinStoreBytes, full below it.
    *
    * Each ratio is store bytes over the average `base/in` file size,
    * present only when that store directory exists and the batches
    * have bytes — a missing store is absent, never a false 0.0. */
  private[graft] def sidecarByteRatios(fs: org.apache.hadoop.fs.FileSystem,
      base: String): Map[String, Double] = {
    val inFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
      .filter(_.isFile)
    val avgBatchB =
      if (inFiles.isEmpty) 0L else inFiles.map(_.getLen).sum / inFiles.length
    if (avgBatchB <= 0) return Map.empty
    Seq("sidecar" -> "sketches", "bands" -> "sketches/bands",
        "sets" -> "sketches/sets").flatMap { case (name, sub) =>
      val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
      if (!fs.exists(p)) None
      else Some(s"${name}_batch_byte_ratio" ->
        math.rint(fs.getContentSummary(p).getLength.toDouble / avgBatchB * 100) / 100)
    }.toMap
  }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    // Normalize events.ts to a µs-precision TimestampType regardless of
    // which testdata generation wrote the file:
    //   - TIMESTAMP(NANOS): Spark rejects it natively; nanosAsLong reads
    //     the raw int64 nanos, which we FLOOR-divide (not DIV /
    //     truncate-toward-zero) to µs — the q36 oracle uses DuckDB's
    //     `epoch_ns(ts) // 1000` which floors, so a pre-1970 ns
    //     timestamp would differ by 1µs between engines under DIV.
    //   - TIMESTAMP_NTZ (µs files without isAdjustedToUTC): cast to
    //     TimestampType — exact, because the session timezone is pinned
    //     to UTC (GraftSession), matching DuckDB's naive reading.
    //   - TimestampType: already what downstream expects.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/$name.parquet")
    val df =
      if (name == "events") {
        import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
        raw.schema("ts").dataType match {
          case LongType => raw.withColumn("ts", expr(
            "timestamp_micros(CASE WHEN ts % 1000 < 0 THEN ts DIV 1000 - 1 ELSE ts DIV 1000 END)"))
          case TimestampNTZType =>
            raw.withColumn("ts", col("ts").cast(TimestampType))
          case TimestampType => raw
          case other => throw new IllegalStateException(
            s"events.ts has unsupported type $other (expected int64 nanos, timestamp_ntz, or timestamp)")
        }
      } else raw
    df.createOrReplaceTempView(name)
    df
  }

  /** Run `q` through the reference-dialect SQL front end (T4) with `df`
    * registered as AllData. */
  private def sql(df: DataFrame, q: String): DataFrame = SqlTransform(q)(df)

  /** Shared body of the approximate-ANN gates: emit the exact brute
    * ranking (its oracle is [[annBruteOracleSql]]) and assert `ivfFn`'s
    * recall@10 against it in-query. The brute frame is materialized
    * once — it is consumed three times (recall join, denominator count,
    * emitted result) and Spark would re-execute the scored-scan DAG per
    * consumer. */
  private def annRecallGate(s: SparkSession, dir: String, floor: Double, label: String)(
      ivfFn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queriesDf = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
      .transform(Materialize.once(_, eager = true))
    val ivf = ivfFn(emb, queriesDf)
      .select(col("query_id"), col("id").as("neighbor_id"))
    // numerator and denominator in ONE job (r17): the old
    // left_semi.count() + brute.count() pair ran two driver actions
    // where one suffices — a LEFT join against the (query, neighbor)-
    // unique ivf frame cannot duplicate brute rows, so count(*) is the
    // denominator and count(match marker) the numerator of the same
    // 50-row aggregate. Same recall value, one fewer job per ANN gate.
    val r = brute.join(ivf.withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
      .head()
    val recall = r.getLong(1).toDouble / r.getLong(0)
    require(recall >= floor, f"$label recall@10 regressed: $recall%.3f < $floor%.1f")
    brute.orderBy("query_id", "rank")
  }

  // ---- reference real-query corpus (testes-sqls.txt:1-110) ------------

  /** The F8-style fixture schema the reference's real queries run over
    * (reference testes-sqls.txt / its PIS-COFINS CSVs: 21 columns with
    * spaces, accents, parens, slashes and a colon in the names), derived
    * DETERMINISTICALLY from `orders` with engine-invariant arithmetic
    * (integer modulo on the dense o_orderkey; IEEE multiplies of the
    * same double operands) so the DuckDB oracle rebuilds the identical
    * frame and the dialect shim gets hash-level cover — CorpusSpec pins
    * shapes, these gates pin VALUES. */
  private def corpusAllData(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val ano = (lit(2018) + k % 8).cast("int")
    val tri = (lit(1) + floor(k / lit(8.0)).cast("long") % 4).cast("int")
    val p = col("o_totalprice")
    tbl(s, dir, "orders").filter(k <= 2400).select(
      when(k % 13 === 0, lit(null).cast("string"))
        .otherwise(col("o_custkey").cast("string")).as("CNPJ Base"),
      ano.as("Ano do Período de Apuração"),
      tri.as("Trimestre do Período de Apuração"),
      when(k % 6 === 0, "dezembro").when(k % 6 === 1, "Dez")
        .when(k % 6 === 2, "janeiro").when(k % 6 === 3, "dez")
        .when(k % 6 === 4, "DEZEMBRO").otherwise("março")
        .as("Mês do Período de Apuração"),
      concat(lit("PAC 12345678 "), ano.cast("string"), lit(".0"),
        tri.cast("string")).as("Período Apuração Crédito"),
      when(k % 3 === 0, "Ressarcimento").when(k % 3 === 1, "Compensação")
        .otherwise("Dedução").as("Tipo de Crédito"),
      concat(lit("R"), (k % 5).cast("string")).as("Tipo Crédito"),
      when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 3 === 0, "Saldo credor").when(k % 3 === 1, "Outros")
        .otherwise("Saldo devedor")
        .as("Natureza da Base de Cálculo dos Créditos"),
      (lit(40) + k % 30).cast("int").as("Código de Situação Tributária (CST)"),
      when(k % 11 === 0, lit(null).cast("double"))
        .otherwise(lit(0.65) + lit(0.5) * (k % 3).cast("double"))
        .as("Alíquota de PIS/PASEP (em percentual)"),
      p.as("Valor da Base de Cálculo das Contribuições"),
      (p * 0.1).as("Crédito vinculado à Receita Bruta Não Cumulativa: Tributada"),
      (p * 0.2).as("Crédito vinculado à Receita Bruta Não Cumulativa: Não Tributada"),
      (p * 0.3).as("Crédito vinculado à Receita Bruta Não Cumulativa: de Exportação"),
      (p * 0.6).as("Crédito vinculado à Receita Bruta Não Cumulativa"),
      (p * 0.05).as("Crédito vinculado à Receita Bruta Cumulativa (Valores Excluídos)"),
      (p * 0.7).as("Crédito vinculado à Receita Bruta Total"),
      (p * 0.4).as("Valor Total Crédito"),
      (p * 0.41).as("Valor Crédito Data Transmissão"),
      concat(lit("PERD"), (k % 9).cast("string")).as("PER/DCOMP"),
      when(k % 4 === 0, "entrada").when(k % 4 === 1, "Entrada de insumo")
        .when(k % 4 === 2, "saida").otherwise("ENTRADA").as("Tipo de Operação"))
  }

  /** DuckDB rebuild of [[corpusAllData]] — keep the arithmetic textually
    * parallel to the Spark side: every value is integer modulo over the
    * dense o_orderkey or an IEEE multiply of the same double operands,
    * so both engines produce bit-identical frames. */
  private val corpusCte: String =
    """WITH AllData AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(o_custkey AS VARCHAR) END AS "CNPJ Base",
      |    CAST(2018 + o_orderkey % 8 AS INT) AS "Ano do Período de Apuração",
      |    CAST(1 + CAST(FLOOR(o_orderkey / CAST(8.0 AS DOUBLE)) AS BIGINT) % 4 AS INT) AS "Trimestre do Período de Apuração",
      |    CASE o_orderkey % 6 WHEN 0 THEN 'dezembro' WHEN 1 THEN 'Dez' WHEN 2 THEN 'janeiro' WHEN 3 THEN 'dez' WHEN 4 THEN 'DEZEMBRO' ELSE 'março' END AS "Mês do Período de Apuração",
      |    'PAC 12345678 ' || CAST(CAST(2018 + o_orderkey % 8 AS INT) AS VARCHAR) || '.0' || CAST(CAST(1 + CAST(FLOOR(o_orderkey / CAST(8.0 AS DOUBLE)) AS BIGINT) % 4 AS INT) AS VARCHAR) AS "Período Apuração Crédito",
      |    CASE o_orderkey % 3 WHEN 0 THEN 'Ressarcimento' WHEN 1 THEN 'Compensação' ELSE 'Dedução' END AS "Tipo de Crédito",
      |    'R' || CAST(o_orderkey % 5 AS VARCHAR) AS "Tipo Crédito",
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL WHEN o_orderkey % 3 = 0 THEN 'Saldo credor' WHEN o_orderkey % 3 = 1 THEN 'Outros' ELSE 'Saldo devedor' END AS "Natureza da Base de Cálculo dos Créditos",
      |    CAST(40 + o_orderkey % 30 AS INT) AS "Código de Situação Tributária (CST)",
      |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE CAST(0.65 AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(o_orderkey % 3 AS DOUBLE) END AS "Alíquota de PIS/PASEP (em percentual)",
      |    o_totalprice AS "Valor da Base de Cálculo das Contribuições",
      |    o_totalprice * CAST(0.1 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Não Cumulativa: Tributada",
      |    o_totalprice * CAST(0.2 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Não Cumulativa: Não Tributada",
      |    o_totalprice * CAST(0.3 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Não Cumulativa: de Exportação",
      |    o_totalprice * CAST(0.6 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Não Cumulativa",
      |    o_totalprice * CAST(0.05 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Cumulativa (Valores Excluídos)",
      |    o_totalprice * CAST(0.7 AS DOUBLE) AS "Crédito vinculado à Receita Bruta Total",
      |    o_totalprice * CAST(0.4 AS DOUBLE) AS "Valor Total Crédito",
      |    o_totalprice * CAST(0.41 AS DOUBLE) AS "Valor Crédito Data Transmissão",
      |    'PERD' || CAST(o_orderkey % 9 AS VARCHAR) AS "PER/DCOMP",
      |    CASE o_orderkey % 4 WHEN 0 THEN 'entrada' WHEN 1 THEN 'Entrada de insumo' WHEN 2 THEN 'saida' ELSE 'ENTRADA' END AS "Tipo de Operação"
      |  FROM orders WHERE o_orderkey <= 2400
      |)""".stripMargin

  /** Total-order key for every corpus oracle (row-unique: o_totalprice
    * is distinct under the k <= 2400 cut at every shipped SF). */
  private val corpusOrd = """"Valor da Base de Cálculo das Contribuições""""

  /** Replay one of the reference's real queries VERBATIM through the
    * dialect front end (T4/GraftSql) over [[corpusAllData]], then apply
    * a total order on the row-unique base-value column so the
    * positional driver compare is deterministic (the dialect semantics
    * under test are order-independent; CorpusSpec pins the corpus ORDER
    * BY behaviors). */
  private def corpusGate(s: SparkSession, dir: String, q: String): DataFrame = {
    val out = sql(corpusAllData(s, dir), q.stripSuffix(";"))
    out.orderBy(col("Valor da Base de Cálculo das Contribuições"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- SQL surface (SURVEY §2.4) ------------------------------------

    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          // exact-decimal sum: at sf>=0.1 the accumulated FP error of a
          // multi-billion double sum exceeds the round-4 grid, so sum in
          // DECIMAL(20,4) (recovers the exact 4-dec products) and cast the
          // exact result to double — identical in any engine at any scale
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(20,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (round(sum("l_quantity"), 2) / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q2_filter" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q3_distinct" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")
    }),

    "q4_topk" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    }),

    "q5_case_cast" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large").as("bucket"),
          floor(col("o_totalprice")).as("price_long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("price_long").as("sum_price_long"))
        .orderBy("bucket")
    }),

    "q6_like" -> ((s, dir) => {
      tbl(s, dir, "part")
        .filter(col("p_name").like("%bolt%") || col("p_type").ilike("%economy%"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    }),

    "q7_null_handling" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .withColumn("pri", expr("nullif(o_orderpriority, '1-URGENT')"))
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("pri").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("pri").isNotNull, 1L).otherwise(0L)).as("n_not_null"))
        .orderBy("o_orderstatus")
    }),

    "q8_having" -> ((s, dir) => {
      sql(tbl(s, dir, "orders"),
        """SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
          |FROM AllData GROUP BY o_custkey
          |HAVING "total_spent" > 1000000 ORDER BY o_custkey""".stripMargin)
    }),

    "q9_strftime" -> ((s, dir) => {
      sql(tbl(s, dir, "orders"),
        """SELECT o_orderkey, STRFTIME(o_orderdate, '%d/%m/%Y') AS dstr
          |FROM AllData ORDER BY o_orderkey""".stripMargin)
    }),

    "q10_substr_mod" -> ((s, dir) => {
      sql(tbl(s, dir, "customer"),
        """SELECT c_custkey, SUBSTR(c_name, 1, 8) AS name8, c_custkey % 7 AS m
          |FROM AllData ORDER BY c_custkey""".stripMargin)
    }),

    "q11_cte" -> ((s, dir) => {
      sql(tbl(s, dir, "orders"),
        """WITH spend AS (
          |  SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
          |  FROM AllData GROUP BY o_custkey
          |)
          |SELECT o_custkey, total FROM spend WHERE total > 500000
          |ORDER BY o_custkey""".stripMargin)
    }),

    "q12_star_except" -> ((s, dir) => {
      sql(tbl(s, dir, "lineitem"),
        """SELECT * EXCEPT("l_shipdate", "l_tax", "l_discount", "l_partkey", "l_suppkey")
          |FROM AllData WHERE "l_quantity" >= 49
          |ORDER BY "l_orderkey", "l_linenumber"""".stripMargin)
    }),

    "q13_star_combo" -> ((s, dir) => {
      sql(tbl(s, dir, "orders"),
        """WITH enriched AS (
          |  SELECT *, CAST(STRFTIME(o_orderdate, '%Y') AS INTEGER) AS order_year
          |  FROM AllData
          |)
          |SELECT *
          |  EXCEPT ("o_orderpriority", "o_orderdate")
          |  REPLACE (CONCAT("o_orderstatus", '_x') AS "o_orderstatus")
          |  RENAME ("o_custkey" AS "customer_key")
          |FROM enriched
          |WHERE order_year >= 1998
          |ORDER BY "o_orderkey"""".stripMargin)
    }),

    "q14_sort_nulls" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
        .withColumn("seg", expr("nullif(c_mktsegment, 'BUILDING')"))
      SortOps.sort(c, Seq(
        SortBy("seg", ascending = false, nullsLast = false),
        SortBy("c_custkey", ascending = true, nullsLast = true)))
        .select("c_custkey", "seg")
    }),

    "q15_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("running_value", round(sum("value").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_event", lag("event_id", 1).over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "event_id", "rn", "running_value", "prev_event")
        .orderBy("user_id", "rn")
    }),

    "q16_join_agg" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(20,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    "q17_anti_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      c.join(o.filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q18_union" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      c.select(col("c_custkey").as("k"))
        .union(o.select(col("o_custkey").as("k")))
        .distinct().orderBy("k")
    }),

    "q19_rollup" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q33_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    "q34_describe" -> ((s, dir) => {
      graft.meta.Introspect.numericSummary(
        tbl(s, dir, "lineitem").select("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_name")
    }),

    "q20_time_agg" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("day").cast("date").cast("string").as("day"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("day", "event_type")
    }),

    "q21_json" -> ((s, dir) => {
      tbl(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy("event_id")
    }),

    "q22_minmax_distinct" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          countDistinct("l_partkey").as("n_parts"),
          min(col("l_shipdate").cast("date").cast("string")).as("first_ship"))
        .orderBy("l_returnflag")
    }),

    "q23_intersect" -> ((s, dir) => {
      val o = tbl(s, dir, "orders"); val c = tbl(s, dir, "customer")
      o.select(col("o_custkey").as("k"))
        .intersect(c.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k")))
        .orderBy("k")
    }),

    "q24_except_setop" -> ((s, dir) => {
      val o = tbl(s, dir, "orders"); val c = tbl(s, dir, "customer")
      c.select(col("c_custkey").as("k"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")))
        .orderBy("k")
    }),

    "q25_strings" -> ((s, dir) => {
      tbl(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        length(col("c_name")).cast("long").as("len"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"))
        .orderBy("c_custkey")
    }),

    "q26_dates" -> ((s, dir) => {
      tbl(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30"),
        last_day(col("o_orderdate").cast("date")).cast("string").as("eom"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy("o_orderkey")
    }),

    "q27_math" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25).as("dev"),
        sqrt(col("l_quantity")).as("root"),
        floor(col("l_extendedprice") / 1000).as("kprice_floor"),
        ceil(col("l_extendedprice") / 1000).as("kprice_ceil"),
        signum(col("l_quantity") - 25).cast("int").as("sgn"),
        pow(col("l_linenumber"), 2).as("sq"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q28_explode" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    }),

    // ---- transform pipeline (SURVEY §2.3) ------------------------------

    "t1_drop_regex" -> ((s, dir) => {
      DropColumnsByRegex("^l_(shipdate|tax|discount)$")(tbl(s, dir, "lineitem"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "t2_normalize_euro" -> ((s, dir) => {
      val base = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        concat(col("l_partkey").cast("string"), lit("."),
          col("l_suppkey").cast("string"), lit(","),
          col("l_linenumber").cast("string")).as("euro"))
      NormalizeEuroStrings("^euro$")(base).orderBy("l_orderkey", "l_linenumber")
    }),

    "t3_replace_null" -> ((s, dir) => {
      val base = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_linenumber") % 3 === 0, lit(" NA "))
          .when(col("l_linenumber") % 3 === 1, lit("<N/D>"))
          .otherwise(col("l_returnflag")).as("marked"))
      ReplaceWithNull(Seq("", "<N/D>", "NA"))(base)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "t5_remove_null_cols" -> ((s, dir) => {
      val base = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("dead", lit(null).cast("string"))
      RemoveNullColumns(base).orderBy("l_orderkey", "l_linenumber")
    }),

    "t6_row_index" -> ((s, dir) => {
      AddRowIndex("rid", 1L)(
        tbl(s, dir, "orders").select("o_orderkey", "o_totalprice").orderBy("o_orderkey"))
    }),

    "t7_round_floats" -> ((s, dir) => {
      RoundFloatColumns(0)(
        tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- dedup (scale tier) --------------------------------------------

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(tbl(s, dir, "documents").select("doc_id", "text"), Seq("text"), "doc_id")
        .select("doc_id", "n_dups").orderBy("doc_id")
    }),

    "dedup_minhash" -> ((s, dir) => {
      // LSH candidates + exact-Jaccard verify (the production dedup
      // pattern): value-exact against the DuckDB all-pairs Jaccard
      // oracle because precision is 1.0 by construction and recall at
      // J >= 0.5 with r=2/b=64 banding is 1 - (1-J²)^64 ≈ 1 - 1e-8
      Dedup.minhashExactPairs(tbl(s, dir, "documents"), "doc_id", "text",
        Dedup.MinHashConfig(numHashes = 128, bands = 64), exactThreshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_minhash_salted" -> ((s, dir) => {
      // the SALTED pair path proven on the real corpus: floor=1 forces
      // every candidate-producing LSH bucket through the per-bucket
      // triangle split (g = ceil(B/1) capped at MaxAutoSalt), so the
      // diagonal/off-diagonal cell machinery and the cap all engage —
      // at default floor (5792) no sf0.1 bucket ever trips, leaving the
      // salted plan unit-test-only. Output must be value-exact against
      // the SAME all-pairs oracle as dedup_minhash: salting may never
      // change results, only task shape. The floor rides on the
      // documents frame (withConf), so only this gate's plan sees it.
      Dedup.minhashExactPairs(
          GraftSession.withConf(tbl(s, dir, "documents"), Dedup.SaltFloorKey -> "1"),
          "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 128, bands = 64), exactThreshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // the chunked-LSH pair machinery over an ENGINE-PORTABLE signature:
      // 60-bit simhash whose token hash is the first 15 hex chars of
      // md5(word) — bit-for-bit reproducible in DuckDB, so the hamming
      // values are oracle-exact. Computed by the fused native expression
      // SimHashMd5FromText (one byte pass per doc, map-side) — replaces
      // round 2's explode + 60-column vote aggregate, which shuffled every
      // token and tripped Spark's "plan too large" warning. Zero-token
      // docs signature to NULL and are dropped, exactly as the explode
      // formulation (and the DuckDB unnest oracle) drops them.
      val sigs = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        graft.functions.HashFunctions.simhashMd5FromText(col("text")).as("sh"))
        .filter(col("sh").isNotNull)
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // incremental ingest: every 5th document plays the "new batch",
      // the rest the accepted corpus; pairs are batch-vs-corpus (any
      // direction) plus batch-vs-smaller-batch-id. Value-exact for the
      // same reason dedup_minhash is: LSH recall ≈ 1 at J >= 0.5 with
      // r=2/b=64 banding, and the verify step is exact shingle Jaccard.
      val docs = tbl(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      Dedup.minhashExactPairsAgainst(batch, corpus, "doc_id", "text",
        Dedup.MinHashConfig(numHashes = 128, bands = 64), exactThreshold = 0.5)
        .select(col("id_new"), col("id_other"), col("other_in_corpus"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_new", "id_other")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // spillPolicy=sample: at oracle scales (sf0.01/sf0.1) the spill
      // budget never trips, so the gate is the EXACT prefix route and
      // hash-matches DuckDB's quadratic oracle. At corpus scales whose
      // estimated index shuffle exceeds the budget (sf100 on one box:
      // ~46 GiB vs 47 GB free disk — a measured DNF in round 15), the
      // operator auto-composes the fitting shingleKeepFraction instead
      // of dying on disk: the gate's at-scale contract is consistent
      // SAMPLED-set Jaccard (announced on stderr), the documented
      // alternative to routing low-threshold intent through minhash.
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.2, spillPolicy = "sample")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_embedding" -> ((s, dir) => {
      // The gate runs the EXACT all-pairs opt-in (signBits = 0) for oracle
      // parity — quadratic BY DESIGN, so its input must stay bounded or a
      // scale-up bench measures the gate's O(n²), not the engine (whose
      // default is LSH-bucketed): cap the corpus to the 2000 md5-smallest
      // vec_ids, deterministic and engine-portable. sf0.01's 500 vectors
      // are all kept (cap does not bind → result unchanged); at sf0.1+ the
      // gate cost is ~constant.
      val emb = tbl(s, dir, "embeddings")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(2000)
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, signBits = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup (cluster-then-prune) gate, shaped like the ann_* recall
      // gates: emits the EXACT all-pairs set (oracle-expressible in
      // DuckDB) and asserts the k-means-clustered path's pair recall
      // against it IN-QUERY. Config from graft.tools.SemSweep on the
      // STRUCTURELESS synthetic embeddings — the method's worst case
      // (boundary-straddling pairs at cosine 0.35 are common; the
      // paper's regime is tight dups at >= 0.9 where both members share
      // a Voronoi cell almost surely): k=8 / nprobe=2 measures recall
      // 0.768 at sf0.01 and 0.745 at sf0.1, floor 0.6. The ~0.15
      // margin is deliberate headroom for the fit's one residual
      // nondeterminism: Lloyd's per-cell centroid means are distributed
      // double SUMS, and float addition order varies with partition
      // layout / reduce fetch order (no repartition pins it — shuffle
      // block arrival order is nondeterministic), so centroids can
      // differ in trailing ulps across environments and, in principle,
      // flip a boundary-straddling assignment. Seeds, sampling, and
      // assignment are otherwise fully hash-deterministic. Precision
      // needs no assert: verification is exact cosine, so every emitted
      // pair is genuinely above threshold by construction. Corpus capped to
      // the 1500 md5-smallest vec_ids (deterministic, engine-portable)
      // because the ORACLE is quadratic; the operator itself is the
      // scale path.
      val emb = tbl(s, dir, "embeddings")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1500)
        .transform(Materialize.once(_))
      val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, signBits = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .transform(Materialize.once(_, eager = true))
      val clustered = Dedup.semanticDedupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numClusters = 8, kmeansIters = 3, nprobe = 2)
        .select(col("id_a"), col("id_b"))
      val total = exact.count()
      val hits = exact.join(clustered, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (total > 0) hits.toDouble / total else 1.0
      require(recall >= 0.6,
        f"semantic-dedup pair recall regressed: $recall%.3f < 0.6 ($hits/$total)")
      exact.orderBy("id_a", "id_b")
    }),

    // ---- similarity search ---------------------------------------------

    "ann_jl_topk" -> ((s, dir) => {
      // the pre-ANN dimensionality cut in action: project corpus AND
      // queries 64→16 with the shared deterministic JL matrix, then
      // exact cosine top-10 IN PROJECTED SPACE (4× fewer bytes and
      // FLOPs per candidate). The oracle replays matrix, projection,
      // cosine and rank; rank on the 6dp-rounded cosine (id tiebreak)
      // because the projected values pass through two engine-local
      // float folds (projection sum, then cosine) before ranking.
      // NOT asserted: cross-space recall vs the full-dim ranking —
      // measured 0.1@10 HERE because the synthetic embeddings have no
      // cluster structure (near-uniform cosines; the ivfCentroidTopK
      // comment documents the same), so top-10 is a ranking of
      // near-ties that any ε distortion reshuffles. JL preserves
      // neighbors when they win by a margin, which structureless
      // fixtures don't have; the gate's subject is the projection
      // pipeline's cross-engine exactness, not fixture recall.
      val proj = Embeddings.jlProject(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", inDim = 64, outDim = 16)
      val c = proj.select(col("vec_id").as("id"), col("proj").as("v"))
      val q = proj.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("proj").as("qv"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id"),
          graft.functions.VectorFunctions.cosine(col("v"), col("qv")).as("cosine"))
      Similarity.topKPerKey(scored, Seq("query_id"),
          round(col("cosine"), 6).desc, 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "ann_brute_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queriesDf, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("id").as("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // Value-checkable formulation of the approximate ANN scale paths:
    // each gate emits the EXACT brute ranking (oracle = brute-force SQL)
    // and asserts the approximate variant's recall@10 against it
    // IN-QUERY, throwing below the fixture floor. Configs from
    // graft.tools.IvfSweep, measured at BOTH sf0.01 and sf0.1:
    //   - ivfTopK bits=4/probeHamming=2 → recall 0.84/0.82, floor 0.6
    //     (bits=6/probe=1, shipped in r2, measured 0.200/0.240 — do not
    //     use);
    //   - ivfCentroidTopK 16 centroids/nprobe=8 → recall 0.78/0.80,
    //     floor 0.5. The synthetic embeddings have NO cluster
    //     structure, so this config scans ~half the corpus here — real
    //     clustered embeddings probe a far smaller fraction at the same
    //     recall, and sampleCentroids is the k-means swap-in point.
    "ann_ivf_topk" -> ((s, dir) =>
      annRecallGate(s, dir, floor = 0.6, label = "sign-LSH IVF") {
        (emb, queriesDf) =>
          Similarity.ivfTopK(emb, "vec_id", "embedding",
            queriesDf, "vec_id", "embedding", k = 10, bits = 4, probeHamming = 2)
      }),

    "ann_ivf_centroid_topk" -> ((s, dir) =>
      annRecallGate(s, dir, floor = 0.5, label = "centroid IVF") {
        (emb, queriesDf) =>
          Similarity.ivfCentroidTopK(emb, "vec_id", "embedding",
            queriesDf, "vec_id", "embedding", k = 10, numCentroids = 16, nprobe = 8)
      }),

    "ann_ivf_kmeans_topk" -> ((s, dir) =>
      // same gate shape with Lloyd-refined (3 iters) centroids — the
      // trained-IVF path; floor matches the sampled-centroid gate (the
      // refinement must never make recall WORSE than its own floor)
      annRecallGate(s, dir, floor = 0.5, label = "k-means IVF") {
        (emb, queriesDf) =>
          Similarity.ivfCentroidTopK(emb, "vec_id", "embedding",
            queriesDf, "vec_id", "embedding", k = 10, numCentroids = 16, nprobe = 8,
            kmeansIters = 3)
      }),

    "ann_pq_topk" -> ((s, dir) =>
      // product-quantization path: 16×32 codebooks (4-dim subspaces) fit
      // driver-side from the deterministic sample, ADC candidate scan,
      // exact re-rank of the top rerank·k — the memory-bound ANN family
      // member (16 B codes vs 512 B raw doubles per vector). rerank is
      // AUTO (Pq.resolveRerankFactor): the pool grows with corpus size
      // so ADC leapfrog noise — linear in n — can't erode recall at
      // scale (the round-15 sf100 sweep caught the fixed factor doing
      // exactly that in the IVF-PQ gates)
      annRecallGate(s, dir, floor = 0.75, label = "PQ+re-rank") {
        (emb, queriesDf) =>
          val model = Pq.fit(emb, "vec_id", "embedding", m = 16, k = 32,
            seed = 42L, iters = 10)
          Pq.pqTopK(emb, "vec_id", "embedding",
            queriesDf, "vec_id", "embedding", k = 10, model)
      }),

    "ann_ivfpq_topk" -> ((s, dir) =>
      // FAISS-style IVF-PQ composition — the config production runs:
      // coarse cells cut the scanned fraction, PQ codes cut bytes per
      // scanned row, exact re-rank restores true cosines. nprobe is
      // AUTO (Pq.resolveNprobe: 0.85 scanned fraction → 14 of 16
      // cells); IvfPqSweep at sf0.01/sf0.1 measures recall 0.94/0.92 —
      // at those scales the IVF probe bounds recall. rerank is also
      // AUTO: at 5M vectors (sf100) the FIXED factor 8 measured 0.78 —
      // ADC leapfrog noise grows linearly with corpus size, so the
      // exact-re-rank pool must too (Pq.resolveRerankFactor)
      annRecallGate(s, dir, floor = 0.8, label = "IVF-PQ") {
        (emb, queriesDf) =>
          val model = Pq.fit(emb, "vec_id", "embedding", m = 16, k = 32,
            seed = 42L, iters = 10)
          Pq.ivfPqTopK(emb, "vec_id", "embedding",
            queriesDf, "vec_id", "embedding", k = 10, model,
            numCentroids = 16)
      }),

    "ann_ivfpq_index_topk" -> ((s, dir) =>
      // persisted IVF-PQ: cell-partitioned CODES on disk (no raw
      // vectors), query = partition-pruned ADC scan + exact re-rank
      // against the vector store it was built from (IvfPqIndexSpec
      // asserts the pruning). nprobe AUTO from the index's realized
      // cell count (0.85 fraction → 14 of 16); IvfPqSweep recall
      // 0.96/0.92 at sf0.01/sf0.1
      annRecallGate(s, dir, floor = 0.8, label = "persisted IVF-PQ index") {
        (emb, queriesDf) =>
          val path = s"/tmp/graft_ivfpq_${dirTag(dir)}"
          Pq.buildIvfPqIndex(emb, "vec_id", "embedding", path,
            numCentroids = 16, m = 16, k = 32, seed = 42L, kmeansIters = 2)
          Pq.queryIvfPqIndex(s, path, queriesDf,
            "vec_id", "embedding", k = 10,
            rerankWith = Some((emb, "vec_id", "embedding")))
      }),

    "ann_ivf_index_topk" -> ((s, dir) =>
      // persisted-index path: build the cell-partitioned index on disk,
      // then probe it — the scan is partition-pruned to the probed
      // cells (IvfIndexSpec asserts the plan); same recall gate shape
      annRecallGate(s, dir, floor = 0.5, label = "persisted IVF index") {
        (emb, queriesDf) =>
          val path = s"/tmp/graft_ivf_${dirTag(dir)}"
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", path,
            numCentroids = 16, seed = 42L, kmeansIters = 2)
          Similarity.queryIvfIndex(s, path, queriesDf,
            "vec_id", "embedding", k = 10, nprobe = 8)
      }),

    "ann_ivf_index_append" -> ((s, dir) => {
      // incremental-ingest path: index built on HALF the corpus, the
      // other half APPENDED against the frozen centroids (no rebuild),
      // then probed — recall is asserted against brute force over the
      // FULL corpus, so a lost or double-counted appended row fails the
      // floor, not just a unit test. The append's rebuild-advisor
      // verdict rides along as a column (the stream_upsert_snapshot
      // rebucket-advisor pattern): this even/odd split appends at most
      // half the rows (appended fraction ≤ 0.5, never > the 0.5
      // threshold) into the SAME distribution the centroids were fit
      // on (skew ≈ as-built, far under 4×), so a healthy advisor says
      // false deterministically — advisor drift turns the ORACLE red,
      // not just IvfIndexSpec.
      var advised: Option[Boolean] = None
      annRecallGate(s, dir, floor = 0.5, label = "appended IVF index") {
        (emb, queriesDf) =>
          val path = s"/tmp/graft_ivfap_${dirTag(dir)}"
          Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", path,
            numCentroids = 16, seed = 42L, kmeansIters = 2)
          val res = Similarity.appendToIvfIndex(
            emb.filter(col("vec_id") % 2 =!= 0),
            "vec_id", "embedding", path)
          advised = Some(res.advice.shouldRebuild)
          Similarity.queryIvfIndex(s, path, queriesDf,
            "vec_id", "embedding", k = 10, nprobe = 8)
      }.withColumn("rebuild_advised", lit(advised.get))
    }),

    "ann_ivfpq_index_append" -> ((s, dir) =>
      // IVF-PQ twin of the append gate: frozen centroids AND frozen
      // codebooks (fit on the first half only) must still clear the
      // same floor as the full-build gate through the exact re-rank
      annRecallGate(s, dir, floor = 0.8, label = "appended IVF-PQ index") {
        (emb, queriesDf) =>
          val path = s"/tmp/graft_ivfpqap_${dirTag(dir)}"
          Pq.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", path,
            numCentroids = 16, m = 16, k = 32, seed = 42L, kmeansIters = 2)
          Pq.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 =!= 0),
            "vec_id", "embedding", path)
          Pq.queryIvfPqIndex(s, path, queriesDf, "vec_id", "embedding",
            k = 10, rerankWith = Some((emb, "vec_id", "embedding")))
      }),

    "ann_ivf_index_compact" -> ((s, dir) =>
      // maintenance path: index built on half the corpus, the other
      // half appended in TWO batches (so every touched cell carries
      // multiple small files), then compacted in place. The gate
      // requires compaction to have actually merged files AND the
      // compacted index to clear the same recall floor as the append
      // gate — a row lost or duplicated by a cell swap fails the
      // floor, not just a unit test. (IVF-PQ compaction shares
      // compactIndexCells verbatim; IvfPqIndexSpec covers it.)
      annRecallGate(s, dir, floor = 0.5, label = "compacted IVF index") {
        (emb, queriesDf) =>
          val path = s"/tmp/graft_ivfcp_${dirTag(dir)}"
          Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", path,
            numCentroids = 16, seed = 42L, kmeansIters = 2)
          Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 1),
            "vec_id", "embedding", path)
          Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 4 === 3),
            "vec_id", "embedding", path)
          val (before, after) = Similarity.compactIvfIndex(s, path)
          require(after < before,
            s"compaction merged nothing: $before -> $after files")
          Similarity.queryIvfIndex(s, path, queriesDf,
            "vec_id", "embedding", k = 10, nprobe = 8)
      }),

    "mm_audio_meta" -> ((s, dir) => {
      // synthesizeWavs builds REAL RIFF/PCM bytes from doc_id with
      // arithmetic-derivable parameters, so the oracle can check the
      // full WAV write→parse roundtrip value-exactly without binaries
      val wavs = Multimodal.synthesizeWavs(
        tbl(s, dir, "documents").filter(col("doc_id") < 200), "doc_id")
      Multimodal.audioMeta(wavs, "id", "content").toDF()
        .orderBy("id")
    }),

    "mm_audio_chunk" -> ((s, dir) => {
      val wavs = Multimodal.synthesizeWavs(
        tbl(s, dir, "documents").filter(col("doc_id") < 200), "doc_id")
      Multimodal.chunkAudioWindows(wavs, "id", "content",
        windowMs = 150L, strideMs = 100L)
        .orderBy("id", "chunk_id")
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val withBin = tbl(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrameOffsets(withBin, "doc_id", "payload", stride = 100)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "frame_offset")
    }),

    "pipeline_e2e" -> ((s, dir) => {
      // the reference's full fixed-order pipeline over real data:
      // drop(T1) → normalize(T2) → null-markers(T3) → SQL(T4) →
      // remove-null-cols(T5) → row-index(T6)
      val base = tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_tax"),
        concat(col("l_partkey").cast("string"), lit(","),
          col("l_linenumber").cast("string")).as("euro"),
        when(col("l_linenumber") % 2 === 0, lit(" NA "))
          .otherwise(col("l_returnflag")).as("marked"),
        lit(null).cast("string").as("dead"))
      Pipeline.run(base, PipelineConfig(
        dropRegex = Some("^l_tax$"),
        normalizeRegex = Some("^euro$"),
        nullMarkers = Seq("", "<N/D>", "NA"),
        sql = Some(
          """SELECT * FROM AllData WHERE "l_linenumber" <= 4
            |ORDER BY "l_orderkey", "l_linenumber"""".stripMargin),
        removeNullCols = true,
        rowIndex = Some(("rid", 1L))))
    }),

    // ---- text analysis -------------------------------------------------

    "text_tokens" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      TextAnalysis.withQuality(tbl(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text").orderBy("doc_id")
    }),

    "text_langid" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- corpus curation (PII / repetition / decontamination / URLs) ----

    "text_pii" -> ((s, dir) => {
      // The synthetic corpus carries no PII, so the gate synthesizes it
      // deterministically from doc_id (identically in the oracle): two of
      // every three docs get an email+IPv4+phone suffix; the rest prove
      // the zero-hit path. Detection counts AND the redacted text are
      // both value-gated.
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, col("text")).otherwise(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" tel +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).as("text"))
      Curation.withPii(d, "text")
        .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_redacted")
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      Curation.withRepetition(
        tbl(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text").orderBy("doc_id")
    }),

    "text_repeated_spans" -> ((s, dir) => {
      // cross-document repeated 8-token windows: every occurrence
      // located by (doc, token position), with the window's doc count
      // and keep-first representative. Window identity is positional
      // hashing Spark-side vs literal window strings in the oracle —
      // the same hash-for-string substitution every dedup gate pins.
      Dedup.repeatedWindowMatches(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", windowTokens = 8, minDocs = 2)
        .orderBy("doc_id", "pos")
    }),

    "text_strip_repeated" -> ((s, dir) => {
      // ExactSubstr-style span excision: tokens covered by any
      // cross-document repeated 8-token window are removed (all
      // copies; keepFirst is unit-tested), untouched docs pass through
      // byte-identical. n_chars recomputed so the gate also checks the
      // rebuilt text's length arithmetic.
      Dedup.stripRepeatedWindows(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", windowTokens = 8, minDocs = 2)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("doc_id")
    }),

    "text_decontaminate" -> ((s, dir) => {
      // pseudo-benchmark = every 97th doc; flag any training doc sharing
      // a 5-gram with it (GPT-3/PaLM decontamination at n=5 — the tiny
      // synthetic vocabulary makes 5-gram collisions realistically
      // frequent). Benchmark gram set broadcasts; corpus never shuffles
      // rows.
      val docs = tbl(s, dir, "documents")
      Curation.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 5)
        .withColumn("contaminated", col("contaminated").cast("int"))
        .orderBy("doc_id")
    }),

    "text_vocab" -> ((s, dir) => {
      TextAnalysis.topKWords(tbl(s, dir, "documents"), "text", k = 50)
        .orderBy(col("cnt").desc, col("word"))
    }),

    "text_bm25" -> ((s, dir) => {
      // BM25 top-10 per query over documents. TWO-term queries on
      // purpose: per-(query, doc) scores are then a sum of at most two
      // addends, and IEEE addition is COMMUTATIVE (order-independence
      // a 3+-term sum does not have cross-engine), so with tf/df/dl/N
      // exact integers and avgdl an exact-int-sum ÷ count division,
      // scores agree to the last ulp UP TO ln() parity — java Math.log
      // vs DuckDB ln may differ in the final ulp (the tfidf comment's
      // concession). Ranks therefore compare on the 6dp-ROUNDED score
      // (id tiebreak) in BOTH engines: rank flips would need a true
      // score within ~1 ulp of a 0.5e-6 boundary, not merely two
      // near-equal scores.
      import s.implicits._
      val qs = Seq((1L, "table scan"), (2L, "window merge"),
        (3L, "customer vector")).toDF("query_id", "qtext")
      TextAnalysis.bm25TopK(tbl(s, dir, "documents"), "doc_id", "text",
        qs, "query_id", "qtext", k = 10, rankRoundDp = 6)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),

    "text_bm25_index" -> ((s, dir) => {
      // the PERSISTED-index counterpart of text_bm25: build the index
      // from 2/3 of documents, APPEND the rest — the exact-increment
      // contract (additive df / corpus-stat delta rows) runs inside
      // the gate, so a drifting append breaks correctness here, not
      // just a unit test — then answer fresh 2-term queries through
      // the term-pruned probe (query terms push into the postings and
      // terms scans as In; corpus text is never re-read). Same
      // 6dp-rounded rank/score policy as text_bm25, same reason.
      import s.implicits._
      val base = s"/tmp/graft_bm25idx_${dirTag(dir)}"
      val docs = tbl(s, dir, "documents")
      graft.operators.Bm25Index.buildBm25Index(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", base)
      graft.operators.Bm25Index.appendToBm25Index(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", base)
      val qs = Seq((1L, "hash join"), (2L, "stream filter"),
        (3L, "batch sort")).toDF("query_id", "qtext")
      graft.operators.Bm25Index.queryBm25Index(s, base, qs,
          "query_id", "qtext", k = 10, rankRoundDp = 6)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),

    "text_tfidf" -> ((s, dir) => {
      // tfidf emitted at 6dp: tf/df/N are exact ints, but ln() is
      // transcendental — engines may differ in the last ulp, and the
      // true values sit ~1e15 away from any 1e-6 rounding boundary
      TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy("doc_id", "rank")
    }),

    "emb_quantize" -> ((s, dir) => {
      // scale and q are pure IEEE double ops over exactly-widened floats
      // — bit-identical cross-engine, no rounding needed (header policy).
      // q is emitted comma-joined: the driver compare handles scalar
      // columns only.
      Embeddings.quantizeInt8(tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_str"))
        .orderBy("vec_id")
    }),

    "emb_jl_project" -> ((s, dir) => {
      // deterministic JL projection 64 → 16 dims; one (vec_id, k, y)
      // row per output coordinate (the driver compare handles scalar
      // columns only). y at 6dp: the per-coordinate sum is a 64-term
      // double fold whose order differs between Spark's aggregate()
      // and DuckDB's list_sum.
      Embeddings.jlProject(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("k"),
          round(col("col"), 6).as("y"))
        .orderBy("vec_id", "k")
    }),

    "text_chunk" -> ((s, dir) => {
      // 30-token windows, stride 20 (10-token overlap) — docs average
      // ~50 words, so most produce 2-3 chunks incl. a short tail
      Curation.chunkDocuments(tbl(s, dir, "documents"), "doc_id", "text",
        chunkLen = 30, stride = 20)
        .withColumn("chunk_id", col("chunk_id").cast("long")) // BIGINT parity
        .orderBy("doc_id", "chunk_id")
    }),

    "text_corpus_report" -> ((s, dir) => {
      TextAnalysis.corpusReport(tbl(s, dir, "documents"), "source", "text")
        .orderBy("source")
    }),

    "text_lm_score" -> ((s, dir) => {
      // avg_logp emitted at 6dp: ln() is transcendental (last-ulp
      // engine differences) and double avg is summation-order-dependent
      // at the 1e-15 level — the 1e-6 grid absorbs both
      TextAnalysis.bigramLmScore(tbl(s, dir, "documents"), "doc_id", "text")
        .withColumn("avg_logp", round(col("avg_logp"), 6))
        .orderBy("doc_id")
    }),

    "text_nb_quality" -> ((s, dir) => {
      // trained quality classifier (the fastText-style CCNet/GPT-3
      // pipeline gate as multinomial NB). The synthetic corpus' text
      // carries no label signal on its own (every lang draws the same
      // vocabulary), so the gate salts a marker phrase keyed on doc_id
      // parity — the seed label the classifier must LEARN from token
      // counts, not read — then fits on 2/3 of docs and scores the
      // held-out 1/3, where keep must re-discover the parity.
      // vocabSize=35 keeps the marker tokens IN-vocab (they rank 31-35
      // by count) while the cap still BINDS (the corpus vocabulary is
      // 36+ terms) so cap + OOV are both exercised. logit
      // at 6dp: ln() is transcendental and the per-doc sum is
      // order-sensitive at the 1e-15 level — the 1e-6 grid absorbs
      // both (the text_lm_score precedent). keep compares exactly:
      // the salted signal puts every logit far from 0.
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" clean curated reference"))
            .otherwise(lit(" spamword clickbait"))).as("text"),
        (col("doc_id") % 2 === 0).as("label"))
      val model = graft.operators.QualityClassifier.trainNbQuality(
        docs.filter(col("doc_id") % 3 =!= 0),
        "label", "text", vocabSize = 35, smoothing = 1.0)
      graft.operators.QualityClassifier.scoreNbQuality(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens"),
          round(col("logit"), 6).as("logit"), col("keep"))
        .orderBy("doc_id")
    }),

    "text_bpe_merges" -> ((s, dir) => {
      // tokenizer TRAINING as an oracle gate: 8 BPE merge rounds on the
      // corpus word-type frame. The merge table is the model — if any
      // round's pair counts, argmax tie-break, or greedy replacement
      // semantics drifted from the (unrolled) SQL replay, the wrong
      // pair surfaces here. Driver cost: one 1-row collect per round.
      import s.implicits._
      Bpe.trainBpeMerges(tbl(s, dir, "documents"), "text", numMerges = 8)
        .map(m => (m._1.toLong, m._2, m._3, m._4))
        .toDF("rank", "pair", "merged", "cnt")
        .orderBy("rank")
    }),

    "text_bpe_tokens" -> ((s, dir) => {
      // train on the FULL corpus, tokenize the doc_id%7 slice with the
      // learned merges — word-boundary-preserving, map-side apply. The
      // output string is the exact subword segmentation, so any
      // application-order divergence breaks the compare.
      val docs = tbl(s, dir, "documents")
      val merges = Bpe.trainBpeMerges(docs, "text", numMerges = 8)
        .map(m => (m._2, m._3))
      Bpe.applyBpeMerges(docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", merges)
        .select(col("doc_id"),
          when(col("bpe_tokens").isNull, lit(0L))
            .otherwise(size(col("bpe_tokens")).cast("long")).as("n_tokens"),
          coalesce(array_join(col("bpe_tokens"), " "), lit("")).as("bpe_text"))
        .orderBy("doc_id")
    }),

    "text_cms_counts" -> ((s, dir) => {
      // count-min sketch at a deliberately TIGHT width (4×64 cells vs
      // a ~40-term vocabulary → collisions certain) so the gate
      // exercises the min-over-rows estimator, not just counting; the
      // CMS overestimate guarantee (est ≥ true, always) is asserted
      // in-query; values compare exactly — the md5 cell fold and the
      // integer counters replay verbatim in SQL.
      // feeds the sketch pass and the truth-count pass as TWO cheap
      // codegen'd scans of documents, deliberately NOT materialized: a
      // checkpoint of the corpus-sized exploded token stream is the
      // anti-pattern at scale — the round-14 sf100 probe OOM'd
      // execution memory under exactly that storage pressure, while
      // re-deriving tokens from the scan costs one extra parquet read
      val words = tbl(s, dir, "documents").select(explode_outer(
        graft.functions.TextFunctions.lowerWsTokens(col("text"))).as("term"))
        .where(col("term").isNotNull)
      val sketch = Cms.cmsSketch(words, "term", depth = 4, width = 64)
      val truth = words.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      val top = truth.orderBy(col("true_cnt").desc, col("term")).limit(20)
      // 20-row result materialized ONCE: the in-query assert and the
      // output would otherwise each re-run the full sketch pipeline
      val out = graft.Materialize.once(
        Cms.cmsEstimate(sketch, top.select("term"), "term",
            depth = 4, width = 64)
          .join(broadcast(top), Seq("term"))
          .select(col("term"), col("est"), col("true_cnt")),
        eager = true)
      val under = out.filter(col("est") < col("true_cnt")).count()
      require(under == 0, s"CMS underestimated $under terms — impossible by construction")
      out.orderBy("term")
    }),

    "text_ccnet_buckets" -> ((s, dir) => {
      // the CCNet pipeline composed end-to-end: corpus-trained bigram
      // LM perplexity proxy (-avg_logp, so LOW = predictable text) →
      // per-language tercile thresholds (exact interpolated
      // percentile, the oracle-parity mode) → keep head+middle, drop
      // the gibberish tail. Scores are 6dp-ROUNDED BEFORE bucketing so
      // both engines threshold the identical multiset — interpolated
      // thresholds then land strictly between (or exactly on)
      // population values in both engines and no doc can straddle an
      // ulp-different cut. Docs with <2 tokens have no LM evidence:
      // null bucket, keep=false (CCNet drops empties).
      val docs = tbl(s, dir, "documents")
      // lang rides bigramLmScore's resurrection join (carryCols) — a
      // separate docs⋈scored join would shuffle the corpus a second time
      val scored = TextAnalysis.bigramLmScore(docs, "doc_id", "text",
          carryCols = Seq("lang"))
        .withColumn("score", round(-col("avg_logp"), 6))
      Curation.quantileBuckets(scored, "lang", "score", exact = true)
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score"),
          col("bucket"),
          coalesce(col("bucket").isin("head", "middle"), lit(false)).as("keep"))
        .orderBy("doc_id")
    }),

    "text_blocklist" -> ((s, dir) => {
      tbl(s, dir, "documents").select(col("doc_id"),
        Curation.blocklistHits(col("text"), Seq("spark", "vector", "hash"))
          .as("n_blocked"))
        .orderBy("doc_id")
    }),

    "text_quality_policy" -> ((s, dir) => {
      // thresholds chosen to actually split the corpus (docs run ~20-80
      // tokens): minTokens=50 drops the short tail
      Curation.withQualityPolicy(
        tbl(s, dir, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "keep", "violations")
        .orderBy("doc_id")
    }),

    "text_boilerplate" -> ((s, dir) => {
      // synthesize 3-line docs: real text + a footer shared by ALL docs
      // + a unique tail line; minDocFreq=10 must strip exactly the
      // footer (and any original text shared by >= 10 docs — the oracle
      // computes the same rule, so repeats in the corpus are fine)
      // coalesce keeps engines aligned on NULL text: Spark concat
      // null-propagates (whole doc would vanish) while DuckDB concat
      // SKIPS null args (footer lines would survive)
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          lit("\nstandard footer - all rights reserved\ndoc "),
          col("doc_id").cast("string")).as("text"))
      Curation.removeBoilerplateLines(d, "doc_id", "text", minDocFreq = 10L)
        .orderBy("doc_id")
    }),

    "dedup_paragraph" -> ((s, dir) => {
      // Dolma-style cross-corpus paragraph dedup: synthesize 3-para
      // docs (real text + a footer shared by ALL docs + a tail shared
      // by every 20th doc — the text_boilerplate recipe at paragraph
      // granularity). The footer survives only in doc 0; each tail
      // only in its first carrier; duplicated real texts lose their
      // whole body. Exact strings compare, so any drift in first-
      // occurrence ordering or rebuild order breaks the gate.
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          lit("\n\nshared corpus footer"),
          lit("\n\ndoc tail "), (col("doc_id") % 20).cast("string")).as("text"))
      Dedup.dedupParagraphs(d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "dedup_url" -> ((s, dir) => {
      // URL-level dedup (the RefinedWeb pre-dedup step) as composition:
      // canonicalize, then exact-group on the canonical form. Synthetic
      // URLs collide on doc_id % 50 across sources via casing/www/utm
      // variants, so normalization genuinely merges spellings.
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
          lit("corpus.example.com/p/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=x")).otherwise(lit(""))).as("url"))
      d.select(col("doc_id"), Curation.normalizeUrl(col("url")).as("url_norm"))
        .groupBy("url_norm")
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_dups"))
        .orderBy("url_norm")
    }),

    "url_normalize" -> ((s, dir) => {
      // URLs synthesized from (source, doc_id) with every normalization
      // hazard present: uppercase scheme+host, www. prefix, a utm_ run
      // around a kept param, and a fragment.
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM/p/"), col("doc_id").cast("string"),
          lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
          lit("&utm_campaign=x#frag")).as("url"))
      d.select(col("doc_id"),
        Curation.normalizeUrl(col("url")).as("url_norm"),
        Curation.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }),

    // ---- sources & sinks (SURVEY §2.1-2.2) -----------------------------
    // Roundtrips: write real table data through a graft sink, read it
    // back through the sniffing/inference reader, prove value fidelity
    // against the oracle on the ORIGINAL parquet.

    "io_csv_roundtrip" -> ((s, dir) => {
      val path = s"/tmp/graft_rt_${dirTag(dir)}/lineitem_csv.csv"
      val src = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      graft.sources.Writers.writeCsv(src, path, delimiter = ';')
      val (back, detected) = graft.sources.Readers.readAuto(s, path)
      require(detected.contains(';'), s"sniffer picked $detected")
      back.select(
        col("l_orderkey").cast("long"), col("l_linenumber").cast("int"),
        col("l_returnflag"), col("l_extendedprice").cast("double"))
        // total order — (l_orderkey, l_linenumber) is NOT unique in this
        // corpus generation (see io_csv_lossy_roundtrip's note)
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    }),

    "io_csv_euro_roundtrip" -> ((s, dir) => {
      // Euro-decimal CSV: every data row is full of commas (decimal
      // separators) while the delimiter is ';' — the exact input class
      // the reference was built for (comma-decimal money + semicolon
      // delimiter, data_filter.rs:484-531) and the one the r2 sniffer
      // regression broke: a data-row-anchored probe sees the commas and
      // picks ','. Detection must anchor on the HEADER, which contains
      // no comma. Value fidelity is proven by normalizing the Euro
      // string back to a double and matching the ORIGINAL parquet.
      val path = s"/tmp/graft_rt_${dirTag(dir)}/lineitem_euro.csv"
      val src = tbl(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_returnflag"),
          regexp_replace(col("l_extendedprice").cast("string"), "\\.", ",").as("euro_price"))
      graft.sources.Writers.writeCsv(src, path, delimiter = ';')
      val (back, detected) = graft.sources.Readers.readAuto(s, path)
      require(detected.contains(';'), s"sniffer picked $detected on a Euro-decimal CSV")
      back.select(col("l_orderkey").cast("long"), col("l_returnflag"),
        regexp_replace(col("euro_price"), ",", ".").cast("double").as("l_extendedprice"))
        // total order (see io_csv_lossy_roundtrip's note)
        .orderBy("l_orderkey", "l_returnflag", "l_extendedprice")
    }),

    "io_csv_lossy_roundtrip" -> ((s, dir) => {
      // byte-exact LossyUtf8 parity (reference data_filter.rs:578-585):
      // a clean lineitem CSV gets one raw appended row whose middle cell
      // carries a malformed byte (0xFF — never valid in UTF-8); the
      // lossy read must keep every clean row byte-identical and decode
      // the damaged cell with exactly one U+FFFD, which the DuckDB
      // oracle reconstructs as chr(65533).
      val path = s"/tmp/graft_rt_${dirTag(dir)}/lineitem_lossy.csv"
      val src = tbl(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1 && col("l_orderkey") <= 20000)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
      graft.sources.Writers.writeCsv(src, path, delimiter = ';', singleFile = true)
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("90000001;Z".getBytes("UTF-8"))
      bos.write(Array[Byte](0xFF.toByte))
      bos.write("Z;1.5\n".getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bos.toByteArray,
        java.nio.file.StandardOpenOption.APPEND)
      // the raw append bypasses Hadoop's local-FS checksum sidecar; drop
      // it or the scan fails with ChecksumException
      val pf = new java.io.File(path)
      val crc = new java.io.File(pf.getParentFile, "." + pf.getName + ".crc")
      if (crc.exists) { crc.delete(); () }
      val (back, detected) = graft.sources.Readers.readAuto(s, path,
        graft.sources.ReadConfig(lossyUtf8 = true))
      require(detected.contains(';'), s"sniffer picked $detected")
      // TOTAL order (round-17): this corpus generation carries duplicate
      // (l_orderkey, l_linenumber=1) rows, so orderkey alone leaves tie
      // order to scan luck — local[N] and local-cluster disagreed and
      // the row-order-sensitive compare went red under executors
      back.select(col("l_orderkey").cast("long"), col("l_returnflag"),
        col("l_extendedprice").cast("double"))
        .orderBy("l_orderkey", "l_returnflag", "l_extendedprice")
    }),

    "io_ndjson_roundtrip" -> ((s, dir) => {
      val path = s"/tmp/graft_rt_${dirTag(dir)}/orders.ndjson"
      val src = tbl(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.sources.Writers.writeNdJson(src, path)
      val (back, _) = graft.sources.Readers.readAuto(s, path)
      back.select(col("o_orderkey").cast("long"), col("o_orderstatus"),
        col("o_totalprice").cast("double"))
        .orderBy("o_orderkey")
    }),

    "io_orc_roundtrip" -> ((s, dir) => {
      // ORC sink → extension-dispatched read-back; value fidelity proven
      // against the oracle on the ORIGINAL parquet (as every io_* gate)
      val path = s"/tmp/graft_rt_${dirTag(dir)}/customer.orc"
      val src = tbl(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      graft.sources.Writers.saveAs(src, path)
      val (back, _) = graft.sources.Readers.readAuto(s, path)
      back.select(col("c_custkey").cast("long"), col("c_name"),
        col("c_acctbal").cast("double"), col("c_nationkey").cast("int"))
        .orderBy("c_custkey")
    }),

    "io_sorted_roundtrip" -> ((s, dir) => {
      // sorted-layout sink (Writers.writeSortedParquet): range-partition
      // + in-file sort on (o_orderdate, o_orderkey), then read back
      // through a selective date-range filter — the path LayoutSpec
      // proves skips at the scan. Values must match the oracle on the
      // ORIGINAL table (layout must never change content).
      val path = s"/tmp/graft_rt_${dirTag(dir)}/orders_sorted.parquet"
      val src = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      graft.sources.Writers.writeSortedParquet(src, path,
        Seq("o_orderdate", "o_orderkey"), numFiles = 8)
      s.read.parquet(path)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").cast("string").as("od"))
        .orderBy("o_orderkey")
    }),

    "io_zorder_roundtrip" -> ((s, dir) => {
      // z-ordered layout sink: (l_shipdate TIMESTAMP, l_partkey)
      // interleaved through the auto-normalizing writer (timestamps are
      // min-subtracted and rescaled to the bit budget — the degenerate
      // constant-contribution case is plan-killed), then read back under
      // a BOTH-columns selective filter, the access pattern z-order
      // exists for. Values must match the oracle on the ORIGINAL table:
      // layout must never change content.
      val path = s"/tmp/graft_rt_${dirTag(dir)}/lineitem_z.parquet"
      val src = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_shipdate")
      graft.sources.Writers.writeZOrderedParquet(src, path,
        Seq("l_shipdate", "l_partkey"), bits = 12, numFiles = 8)
      s.read.parquet(path)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-07-01").cast("timestamp") &&
          col("l_partkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"),
          col("l_shipdate").cast("date").cast("string").as("sd"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "io_bucketed_roundtrip" -> ((s, dir) => {
      // bucketed managed table (stage-and-swap overwrite), aggregated on
      // the bucket column — the layout whose point is that this groupBy
      // needs NO exchange (BucketingSpec asserts the plan); the oracle
      // checks the numbers over the original parquet
      // catalog identifier: dots/dashes are illegal in table names
      val name = s"graft_bkt_cust_${dirTag(dir).replaceAll("[.-]", "_")}"
      val src = tbl(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      graft.sources.Writers.writeBucketed(src, name,
        Seq("c_nationkey"), numBuckets = 8, sortCols = Seq("c_custkey"))
      s.table(name)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(20,2)")).cast("double")
            .as("sum_bal"))
        .orderBy("c_nationkey")
    }),

    "io_compact_roundtrip" -> ((s, dir) => {
      // small-files ingest (48 tiny files) → compactParquet (rename-only
      // swap) → read back; content fidelity against the oracle on the
      // ORIGINAL table, and the compaction must actually reduce files
      val path = s"/tmp/graft_rt_${dirTag(dir)}/orders_compact.parquet"
      val src = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      src.repartition(48).write.mode("overwrite").parquet(path)
      val (before, after) =
        graft.sources.Writers.compactParquet(s, path, targetFileBytes = 64L << 20)
      require(after < before,
        s"compaction did not reduce files ($before -> $after)")
      s.read.parquet(path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "m3_examples" -> ((s, dir) => {
      // M3 conformance: EVERY example the generator emits for the orders
      // schema (the reference's full sql_commands template set,
      // sqls.rs:561-628) must execute through GraftSql; the gate emits
      // per-example (rows, cols) so the driver hash-checks the whole
      // template surface against DuckDB-computed counts. The 22-query
      // loop is driver-side by design — a bounded conformance sweep,
      // not a data-scale operator.
      import s.implicits._
      val df = tbl(s, dir, "orders")
      val exs = graft.meta.Introspect.sqlExamples(df.schema)
      require(exs.length == 22, s"orders template set drifted: ${exs.length}")
      // plans are built SEQUENTIALLY (spark.sql analyzes eagerly, so
      // the shared AllData temp view is resolved before the next
      // template replaces it), then the 22 independent count jobs run
      // from a small pool (guide §2.6: overlap independent jobs so the
      // next job's tasks back-fill the current one's tail — these are
      // tiny single-stage jobs that otherwise serialize 22 driver
      // round-trips). Results are (i, count, ncols) — order-independent
      // by construction; the output sorts by ex.
      val outs = exs.zipWithIndex.map { case (q, i) =>
        (i, SqlTransform(q.stripSuffix(";"))(df))
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val rows =
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          Await.result(
            Future.sequence(outs.map { case (i, out) =>
              Future((i, out.count(), out.columns.length))
            }),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      rows.toDF("ex", "nrows", "ncols").orderBy("ex")
    }),

    // ---- reference real-query corpus, value-exact (testes-sqls.txt) ---

    "corpus_q1" -> ((s, dir) => corpusGate(s, dir,
      "SELECT * FROM AllData;")),

    "corpus_q2" -> ((s, dir) => corpusGate(s, dir,
      """SELECT
        |    "Ano do Período de Apuração",
        |    "Trimestre do Período de Apuração",
        |    "Mês do Período de Apuração",
        |    "Tipo de Crédito",
        |    "Natureza da Base de Cálculo dos Créditos",
        |    "Valor da Base de Cálculo das Contribuições",
        |    "Crédito vinculado à Receita Bruta Não Cumulativa: Tributada",
        |    "Crédito vinculado à Receita Bruta Não Cumulativa: Não Tributada",
        |    "Crédito vinculado à Receita Bruta Não Cumulativa: de Exportação",
        |    "Crédito vinculado à Receita Bruta Total"
        |FROM AllData
        |Where
        |    "Ano do Período de Apuração" = 2024
        |And
        |    "Mês do Período de Apuração" Like 'dez%'""".stripMargin)),

    "corpus_q3" -> ((s, dir) => corpusGate(s, dir,
      """SELECT *
        |Except(
        |    "Crédito vinculado à Receita Bruta Total",
        |    "Crédito vinculado à Receita Bruta Não Cumulativa",
        |    "Mês do Período de Apuração"
        |)
        |FROM AllData
        |Where
        |    "Ano do Período de Apuração" = 2024
        |And
        |    "Trimestre do Período de Apuração" = 4
        |And
        |    "Mês do Período de Apuração" Like '%dez%'""".stripMargin)),

    "corpus_q4" -> ((s, dir) => corpusGate(s, dir,
      """SELECT
        |  AllData.*,
        |  SubStr("Período Apuração Crédito", 14, 4) AS Ano
        |FROM
        |  AllData
        |WHERE
        |  SubStr("Período Apuração Crédito", 14, 4) = '2019';""".stripMargin)),

    "corpus_q5" -> ((s, dir) => corpusGate(s, dir,
      """SELECT *
        |FROM AllData
        |Where
        |    "Natureza da Base de Cálculo dos Créditos" is not null
        |And
        |    "Tipo de Operação" ILike '%entrada%'
        |And
        |    "Código de Situação Tributária (CST)" Between 50 And 66
        |ORDER BY
        |    "Código de Situação Tributária (CST)"""".stripMargin)),

    "corpus_q6" -> ((s, dir) => corpusGate(s, dir,
      """WITH DadosComAno AS (
        |  SELECT
        |    *,
        |    CAST(SubStr("Período Apuração Crédito", 14, 4) AS INTEGER) AS Ano
        |  FROM AllData
        |)
        |SELECT
        |    *
        |    EXCEPT (
        |        "Valor Total Crédito",
        |        "Valor Crédito Data Transmissão"
        |    )
        |    REPLACE (
        |        SubStr("Período Apuração Crédito", 1, 12)
        |        AS "Período Apuração Crédito"
        |    )
        |    RENAME (
        |        "PER/DCOMP" AS "Pedido de Ressarcimento (PER)"
        |    )
        |FROM DadosComAno
        |WHERE Ano >= 2019
        |ORDER BY
        |  Ano ASC,
        |  "Período Apuração Crédito" ASC,
        |  "Tipo Crédito" DESC;""".stripMargin)),

    "io_sql_table_fns" -> ((s, dir) => {
      // Polars SQL file table functions in FROM: nation written as
      // ';'-delimited CSV (the sniffer must detect the dialect) and
      // region as parquet, then joined back through read_csv /
      // read_parquet — values must match the same join on the ORIGINAL
      // tables
      val base = s"/tmp/graft_rt_${dirTag(dir)}"
      graft.sources.Writers.writeCsv(
        tbl(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        s"$base/nation_tf.csv", delimiter = ';')
      graft.sources.Writers.writeParquet(
        tbl(s, dir, "region").select("r_regionkey", "r_name"),
        s"$base/region_tf.parquet")
      graft.sql.GraftSql.run(s,
        s"""SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey, n.n_name, r.r_name
           |FROM read_csv('$base/nation_tf.csv') n
           |JOIN read_parquet('$base/region_tf.parquet') r
           |  ON n.n_regionkey = r.r_regionkey
           |ORDER BY n_nationkey""".stripMargin)
    }),

    "io_json_array_roundtrip" -> ((s, dir) => {
      val path = s"/tmp/graft_rt_${dirTag(dir)}/nation.json"
      val src = tbl(s, dir, "nation")
      graft.sources.Writers.writeJsonArray(src, path)
      val (back, _) = graft.sources.Readers.readAuto(s, path)
      back.select(col("n_nationkey").cast("int"), col("n_name"),
        col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),

    "q37_polars_strings" -> ((s, dir) => {
      // Polars string-function surface through the dialect shim:
      // STARTS_WITH/ENDS_WITH/STRPOS rename onto Spark's
      // startswith/endswith/instr (identical semantics, 1-based strpos
      // with 0 for absent); LEFT/REVERSE/SPLIT_PART exist natively in
      // both engines
      sql(tbl(s, dir, "documents"),
        """SELECT doc_id,
          |  STARTS_WITH(text, 'key') AS sw,
          |  ENDS_WITH(source, '1') AS ew,
          |  CAST(STRPOS(text, 'spark') AS BIGINT) AS sp,
          |  SPLIT_PART(text, ' ', 3) AS w3,
          |  LEFT(text, 12) AS l12,
          |  REVERSE(lang) AS rl
          |FROM AllData ORDER BY doc_id""".stripMargin)
    }),

    "q38_polars_quantiles" -> ((s, dir) => {
      // Polars quantile aggregates: QUANTILE_CONT → Spark's exact
      // interpolated `percentile`; QUANTILE_DISC → PERCENTILE_DISC
      // WITHIN GROUP. Oracle-parity choices: quantity is integer-valued
      // and q ∈ {.25,.5,.75} keeps every interpolation binary-exact in
      // both engines; the q=0.5 DISCRETE quantile is the one q where the
      // floor((n-1)q) and ceil(nq)-1 index conventions coincide for all
      // n; stddev/variance accumulate differently per engine → round(6)
      sql(tbl(s, dir, "lineitem"),
        """SELECT l_returnflag,
          |  MEDIAN(l_quantity) AS med_qty,
          |  QUANTILE_CONT(l_quantity, 0.25) AS q25_qty,
          |  QUANTILE_CONT(l_quantity, 0.75) AS q75_qty,
          |  QUANTILE_DISC(l_extendedprice, 0.5) AS qd_price,
          |  ROUND(STDDEV(l_quantity), 6) AS sd_qty,
          |  ROUND(VARIANCE(l_quantity), 6) AS var_qty
          |FROM AllData GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    "q39_floordiv_regex" -> ((s, dir) => {
      // Polars `//` floor division (FLOOR of true division — floors
      // toward -inf, unlike integer DIV's truncation) and the
      // Postgres-style regex-match operators ~ / ~* / !~
      sql(tbl(s, dir, "part"),
        """SELECT p_partkey,
          |  p_partkey // 10 AS k10,
          |  (p_partkey * 3) // 7 AS k7,
          |  (0 - p_partkey) // 7 AS kn7,
          |  p_name ~ 'blue' AS m1,
          |  p_name ~* 'BLUE' AS m2,
          |  p_name !~ '^s' AS m3
          |FROM AllData WHERE p_partkey // 100 = 5 ORDER BY p_partkey""".stripMargin)
    }),

    "q40_polars_arrays" -> ((s, dir) => {
      // Polars array-function surface over a real array column:
      // ARRAY_LENGTH/UPPER/LOWER rename to array_size/max/min, UNNEST to
      // EXPLODE (subquery position). Float cells widen to double and
      // round(4) for cross-engine compare.
      sql(tbl(s, dir, "embeddings"),
        """SELECT vec_id, alen, amax, amin, ROUND(CAST(x AS DOUBLE), 4) AS xv
          |FROM (
          |  SELECT vec_id,
          |    CAST(ARRAY_LENGTH(embedding) AS BIGINT) AS alen,
          |    ROUND(CAST(ARRAY_UPPER(embedding) AS DOUBLE), 4) AS amax,
          |    ROUND(CAST(ARRAY_LOWER(embedding) AS DOUBLE), 4) AS amin,
          |    UNNEST(embedding) AS x
          |  FROM AllData WHERE vec_id < 20
          |) ORDER BY vec_id, xv""".stripMargin)
    }),

    "q41_strptime_roundtrip" -> ((s, dir) => {
      // STRPTIME (Polars %-codes) → TO_TIMESTAMP with the shared
      // translated pattern; proven by format→parse round-trip at
      // seconds resolution. Emitted as epoch µs so both engines compare
      // in integer space.
      sql(tbl(s, dir, "events"),
        """SELECT event_id,
          |  STRPTIME(STRFTIME(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS t2
          |FROM AllData""".stripMargin)
        .select(col("event_id"), unix_micros(col("t2")).as("t2us"))
        .orderBy("event_id")
    }),

    "q42_date_parts" -> ((s, dir) => {
      // Polars DATE_PART/EXTRACT field spellings with no identical Spark
      // field: ordinal_day → DOY, weekday/isodow → DAYOFWEEK_ISO
      // (Mon=1..Sun=7 in both), epoch → double cast. Standard fields
      // pass through untouched.
      sql(tbl(s, dir, "orders"),
        """SELECT o_orderkey,
          |  CAST(DATE_PART('year', o_orderdate) AS BIGINT) AS y,
          |  CAST(DATE_PART('quarter', o_orderdate) AS BIGINT) AS q,
          |  CAST(DATE_PART('ordinal_day', o_orderdate) AS BIGINT) AS doy,
          |  CAST(DATE_PART('weekday', o_orderdate) AS BIGINT) AS wd,
          |  DATE_PART('epoch', o_orderdate) AS ep,
          |  CAST(EXTRACT(isodow FROM o_orderdate) AS BIGINT) AS wd2
          |FROM AllData ORDER BY o_orderkey""".stripMargin)
    }),

    "q43_polars_columns" -> ((s, dir) => {
      // Polars COLUMNS() projection expansion + GROUP BY ALL / ORDER BY
      // ALL. COLUMNS('^re$') expands schema-probed to the matching
      // columns; nested in ROUND(SUM(…), 2) the whole item replicates
      // per column, aliased to the column name (polars' root-name
      // naming). GROUP BY ALL groups on the non-aggregate items and
      // ORDER BY ALL sorts left-to-right — Spark supports both
      // natively; the dialect passes must leave them intact. round(2)
      // for cross-engine double-sum parity (same as q1_agg).
      sql(tbl(s, dir, "lineitem"),
        """SELECT l_returnflag,
          |  ROUND(SUM(COLUMNS('^l_(quantity|extendedprice)$')), 2),
          |  COUNT(*) AS n
          |FROM AllData GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),

    "q44_union_by_name" -> ((s, dir) => {
      // round-11 dialect closures through the SQL front end: UNION ALL
      // BY NAME (branches aligned by NAME with reordered columns; the
      // right branch lacks asum/amean/aget entirely → NULL-filled,
      // diagonal-concat semantics; trailing ORDER BY applies to the
      // whole union) + the templated array fns (array_sum/array_mean →
      // AGGREGATE fold in DOUBLE, array_get → 0-based GET). All
      // arithmetic is small-int-exact in double, so the oracle's
      // spelled-out equivalent hashes identically.
      sql(tbl(s, dir, "nation"),
        """SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS a,
          |  ARRAY_SUM(ARRAY(n_nationkey, n_regionkey)) AS asum,
          |  ARRAY_MEAN(ARRAY(n_nationkey, n_regionkey, 4)) AS amean,
          |  CAST(ARRAY_GET(ARRAY(n_nationkey, n_regionkey), 1) AS BIGINT) AS aget
          |FROM AllData
          |UNION ALL BY NAME
          |SELECT n_name AS a, CAST(n_nationkey + 100 AS BIGINT) AS k
          |FROM AllData WHERE n_regionkey = 0
          |ORDER BY k, a""".stripMargin)
    }),

    "q45_similar_to" -> ((s, dir) => {
      // round-12 dialect promotion: [NOT] SIMILAR TO → anchored RLIKE.
      // Whole-string semantics (unlike the `~` substring operators),
      // `%`/`_` SQL wildcards, POSIX alternation kept, `.` literal —
      // the oracle spells the same predicate as DuckDB regex full
      // matches over the hand-translated patterns.
      sql(tbl(s, dir, "part"),
        """SELECT p_partkey, p_name FROM AllData
          |WHERE p_name SIMILAR TO '%(green|blue|red)%'
          |  AND p_name NOT SIMILAR TO '%w_dget'
          |ORDER BY p_partkey""".stripMargin)
    }),

    "q32_asof_join" -> ((s, dir) => {
      // enrich synthetic event timeline with the most recent order of the
      // same customer (right side deduped per (key, ts) for determinism)
      val left = tbl(s, dir, "events").select(
        col("event_id"),
        (col("event_id") % 1500 + 1).as("k"),
        date_add(lit("1995-01-01").cast("date"),
          (col("event_id") % 2400).cast("int")).as("t"))
      val right = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("od"))
        .agg(max("o_orderkey").as("o_orderkey"))
      AsOf.joinAsOf(left, right, "k", "o_custkey", "t", "od")
        .select(col("event_id"), col("k"), col("o_orderkey"), col("od").cast("string").as("od"))
        .orderBy("event_id")
    }),

    "q35_range_join" -> ((s, dir) => {
      // events (as day offsets) counted into 7-day order windows via the
      // bucketized range join WITH the eager-aggregation rewrite: the
      // point side is dense on a fixed 2400-day domain, so the naive
      // join's output is |events|·|orders|/2400 — quadratic in sf
      // (measured 412 s at sf10) — while collapsing points to per-day
      // counts first is value-identical and linear (the oracle is
      // unchanged: same result, different plan)
      val points = tbl(s, dir, "events").select((col("event_id") % 2400).as("d"))
      val intervals = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("st"))
        .withColumn("en", col("st") + 6)
      RangeJoin.countPointsInInterval(points, intervals, "d", "st", "en",
        bucketWidth = 7L, countName = "n_events")
        .select("o_orderkey", "n_events")
        .orderBy("o_orderkey")
    }),

    "q36_session_window" -> ((s, dir) => {
      // the streaming sessionizer run in batch mode (same code path the
      // MemoryStream tests drive): gap-based session_window, 5-min gap.
      // Timestamps emitted as epoch MICROS so the oracle compares in
      // integer space (events.parquet is TIMESTAMP(NANOS); both engines
      // floor-truncate ns → µs).
      graft.streaming.EventStreams.sessionized(tbl(s, dir, "events"), "5 minutes")
        .select(unix_micros(col("session_start")).as("session_start"),
          unix_micros(col("session_end")).as("session_end"),
          col("user_id"), col("n_events"),
          round(col("session_value"), 2).as("session_value"))
        .orderBy("user_id", "session_start")
    }),

    "stream_interval_join" -> ((s, dir) => {
      // click→purchase attribution via the streaming interval join run
      // in batch mode (the identical code path StreamingSpec drives with
      // MemoryStreams): each click pairs with same-user purchases less
      // than 5 minutes after it. Timestamps emitted as epoch MICROS so
      // the oracle compares in integer space.
      val ev = tbl(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
      graft.streaming.EventStreams.intervalJoined(clicks, purchases,
          "click_user", "purchase_user", "click_ts", "purchase_ts",
          within = "5 minutes")
        .select(col("click_id"), col("purchase_id"),
          col("click_user").as("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
        .orderBy("click_id", "purchase_id")
    }),

    "stream_dedup_ingest" -> ((s, dir) => {
      // the streaming dedup-ingest sink run FOR REAL: documents (plus a
      // re-keyed duplicate of every 3rd doc) arrive as a 5-batch
      // file-source stream — four doc_id-quartile batches then a
      // dup-only batch — and the final corpus must hold exactly the
      // FIRST occurrence of every text. File mtimes are pinned so the
      // file source's timestamp ordering replays the intended sequence;
      // within-quartile corpus-internal duplicates resolve to the min
      // doc_id by the within-batch dedup, cross-batch ones by the
      // against-corpus anti-join.
      val base = s"/tmp/graft_ingest_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val dups = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val batches = (0 until 4).map(b =>
        docs.filter(col("doc_id") * 4 / n >= b && col("doc_id") * 4 / n < b + 1)) :+ dups
      batches.zipWithIndex.foreach { case (df, b) =>
        val tmp = s"$base/tmp$b"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        val dest = new org.apache.hadoop.fs.Path(s"$base/in/batch$b.parquet")
        fs.rename(part, dest)
        fs.setTimes(dest, 60000L * (b + 1), -1)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      val q = graft.streaming.EventStreams.dedupIngestSink(stream,
        s"$base/corpus", "doc_id", "text",
        checkpointDir = Some(s"$base/ckpt"))
      try q.processAllAvailable() finally q.stop()
      // the compaction MAINTENANCE op inside the correctness loop
      // (the rebucket-in-gate pattern): the append-grown corpus
      // compacts before the read, so content preservation across the
      // file merge — bloom options included — is oracle-visible
      graft.streaming.EventStreams.compactIngestCorpus(s, s"$base/corpus")
      s.read.parquet(s"$base/corpus")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "stream_dedup_events" -> ((s, dir) => {
      // the watermarked exact-key stream dedup run FOR REAL: the events
      // table arrives DOUBLED (two full copies in one file batch) and
      // dropDuplicatesWithinWatermark must collapse it back — survivor
      // rows are byte-identical copies, so the output is deterministic
      // and the oracle is just the distinct input. ts emitted as epoch
      // µs (integer space, the stream_interval_join policy).
      implicit val sqlCtx = s.sqlContext
      val base = s"/tmp/graft_dedupev_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val ev = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      ev.unionAll(ev).repartition(8)
        .write.mode("overwrite").parquet(s"$base/in")
      val stream = s.readStream.schema(ev.schema).parquet(s"$base/in")
      val q = graft.streaming.EventStreams.dedupedEvents(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    "stream_dedup_content" -> ((s, dir) => {
      // the streaming CONTENT dedup (SimHash-keyed
      // dropDuplicates-within-watermark analog) run FOR REAL over a
      // file-source stream: the documents table arrives DOUBLED under
      // distinct ids (copy ids offset by 10M), so every text group has
      // ≥2 members with different ids — the round-14 deterministic
      // survivor contract (MIN id of the first batch holding the
      // signature) is what makes this oracle-expressible: one trigger
      // batch → survivor = global min id per signature group, and the
      // oracle's row_number() over the TEXT group matches because the
      // corpus has no cross-text token-multiset collisions (verified:
      // distinct texts == distinct lowercased token multisets at
      // sf0.01 and sf0.1). Degenerate (token-free) texts key by their
      // own id and pass through — none exist in this corpus, so the
      // branch is exercised by StreamingSpec instead.
      val base = s"/tmp/graft_cdedup_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = tbl(s, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text"))
      val duped = docs.unionAll(
          docs.select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        .withColumn("ts",
          timestamp_micros(lit(1704067200000000L) + col("doc_id")))
      duped.repartition(8).write.mode("overwrite").parquet(s"$base/in")
      val stream = s.readStream.schema(duped.schema).parquet(s"$base/in")
      val q = graft.streaming.EventStreams.dedupedByContent(
          stream, "doc_id", "text", "ts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "stream_semantic_ingest" -> ((s, dir) => {
      // SEMANTIC (MinHash near-dup) streaming admission — the admitNew
      // composition dedupIngestSink's doc points users to, run FOR REAL
      // over a 3-batch file-source stream (batch = doc_id % 3, file
      // mtimes pinned for replay order). Sequential semantics: a doc is
      // admitted iff it near-dups (exact shingle-Jaccard ≥ 0.5 after
      // LSH candidate generation, recall ≈ 1 at that threshold with
      // 128 hashes / 64 bands) NEITHER a previously ADMITTED doc NOR a
      // smaller-id sibling of its own batch. Chains matter: a doc whose
      // only near-dup was itself rejected IS admitted — the oracle
      // unrolls the same three rounds in SQL.
      val base = s"/tmp/graft_semingest_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      (0 until 3).foreach { b =>
        val tmp = s"$base/tmp$b"
        docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        val dest = new org.apache.hadoop.fs.Path(s"$base/in/batch$b.parquet")
        fs.rename(part, dest)
        fs.setTimes(dest, 60000L * (b + 1), -1)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val corpusPath = s"$base/corpus"
      val cfg = graft.operators.Dedup.MinHashConfig(numHashes = 128, bands = 64)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      // the library sink maintains a persisted sketch sidecar, so each
      // batch pairs against stored sketches (~1-2% of corpus bytes)
      // instead of re-shingling the corpus — same admission semantics,
      // O(batch + sketches) per batch
      val q = graft.streaming.EventStreams.semanticIngestSink(stream,
        corpusPath, s"$base/sketches", "doc_id", "text", cfg,
        exactThreshold = 0.5, checkpointDir = Some(s"$base/ckpt"))
      try q.processAllAvailable() finally q.stop()
      val ratios = sidecarByteRatios(fs, base)
      ratios.foreach { case (k, v) =>
        graft.GateMetrics.put("stream_semantic_ingest", k, v) }
      ratios.get("sidecar_batch_byte_ratio").foreach { ratio =>
        val verdict =
          if (ratio > 50) "legacy flat-layout ratio over 50x (v2 per-batch " +
            "reads are the bands/sets ratios - see gate_metrics)"
          else f"under the ~50x crossover (headroom ${50 / math.max(ratio, 1e-9)}%.0fx)"
        System.err.println(f"[graft] stream_semantic_ingest byte ratios " +
          f"(store/avg batch): ${ratios.toSeq.sorted.mkString(", ")} - $verdict")
      }
      s.read.parquet(corpusPath).select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    "stream_upsert_snapshot" -> ((s, dir) => {
      // the streaming snapshot-maintenance sink (EventStreams.upsertSink)
      // run FOR REAL: a 4-batch file-source stream of changes folds into
      // an on-disk parquet snapshot (foreachBatch + idempotent changeset
      // merge + rename-only swap), and the gate reads the final snapshot
      // back. Batches partition KEYS (batch = hash(key) % 4), so the
      // final state is independent of file-processing order — what's
      // exercised is multi-batch accumulation (every later merge must
      // preserve earlier batches' keys through the swap) and
      // within-batch tombstone consumption ('error' events delete their
      // key when they are the key's latest version).
      val base = s"/tmp/graft_upsert_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      val changes = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select((col("event_id") % 997).as("k"), col("event_id").as("v"),
          col("value"), col("event_type"),
          (col("event_type") === "error").as("is_deleted"))
      val nBatches = 4
      (0 until nBatches).foreach { b =>
        changes.filter(pmod(xxhash64(col("k")), lit(nBatches.toLong)) === b)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      }
      val stream = s.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      val q = graft.streaming.EventStreams.upsertSink(stream, s"$base/snap",
        Seq("k"), "v", checkpointDir = Some(s"$base/ckpt"))
      try q.processAllAvailable() finally q.stop()
      // surface the maintenance advisor's verdict in the gate output:
      // the 997-key snapshot is tiny at every gate scale, so a healthy
      // advisor says false deterministically — if shouldRebucket ever
      // misfires on a small snapshot (or the bucket-count bookkeeping
      // drifts), this column turns the ORACLE red, not just a unit test
      val advice = graft.streaming.EventStreams.shouldRebucket(s, s"$base/snap")
      s.read.parquet(s"$base/snap")
        .select(col("k"), col("v"), col("value"), col("event_type"))
        .withColumn("rebucket_advised", lit(advice.shouldRebucket))
        .orderBy("k")
    }),

    "stream_upsert_lookup" -> ((s, dir) => {
      // read-side counterpart of stream_upsert_snapshot: fold the same
      // key-partitioned changesets into a 32-bucket snapshot (direct
      // batch entry — the streaming path has its own gate), then
      // point-LOOKUP a deterministic key subset via the bucket-pruned
      // read (EventStreams.lookupUpsertKeys: keys hash to an IN-list in
      // PartitionFilters, absent/tombstoned keys return no row). At
      // 100 TB this is "latest state of these 143 keys" reading ≤ 143
      // buckets, never the corpus.
      val base = s"/tmp/graft_uplookg_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      val changes = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select((col("event_id") % 997).as("k"), col("event_id").as("v"),
          col("value"), col("event_type"),
          (col("event_type") === "error").as("is_deleted"))
      (0 until 4).foreach { b =>
        graft.streaming.EventStreams.applyUpsertBatch(
          changes.filter(pmod(xxhash64(col("k")), lit(4L)) === b),
          s"$base/snap", Seq("k"), "v", "is_deleted", numBuckets = 32)
      }
      // the rebucket MAINTENANCE op inside the correctness loop: the
      // folded 32-bucket snapshot re-buckets to 8 before the lookup,
      // so content preservation across the layout rewrite — and
      // pruning against the NEW persisted count — are oracle-visible
      // every round, not only specced (round-12 verdict item 3)
      graft.streaming.EventStreams.rebucket(s, s"$base/snap", Seq("k"), 8)
      val keys = s.range(0, 997).select(col("id").as("k"))
        .filter(col("k") % 7 === 3)
      graft.streaming.EventStreams.lookupUpsertKeys(s, s"$base/snap",
          Seq("k"), keys)
        .select(col("k"), col("v"), col("value"), col("event_type"))
        .orderBy("k")
    }),

    "stream_windowed_counts" -> ((s, dir) => {
      // the watermarked tumbling-window aggregate through unified batch
      // execution (watermark is a no-op in batch; the window fold is
      // identical). Spark's window() is epoch-aligned, so the oracle is
      // integer-µs floor arithmetic; sum(value) at 2dp (q20 policy).
      graft.streaming.EventStreams.windowedCounts(
          tbl(s, dir, "events").filter(col("ts").isNotNull),
          windowDur = "5 minutes")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start_us", "event_type")
    }),

    "stream_sessionized" -> ((s, dir) => {
      // gap-based session windows (session_window) through unified
      // batch execution. The oracle rebuilds sessions with the classic
      // lag/cumsum SQL: a new session starts when the gap from the
      // previous event is >= 5 minutes (Spark's session end is
      // exclusive: an event exactly at last_ts + gap opens a NEW
      // session); session_end = last event + gap.
      graft.streaming.EventStreams.sessionized(
          tbl(s, dir, "events")
            .filter(col("ts").isNotNull && col("user_id").isNotNull),
          gap = "5 minutes")
        .select(unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("user_id"), col("n_events"),
          round(col("session_value"), 2).as("session_value"))
        .orderBy("user_id", "session_start_us")
    }),

    "stream_running_totals" -> ((s, dir) => {
      // the custom-keyed-state operator (flatMapGroupsWithState)
      // through Spark's UNIFIED batch execution of the identical code
      // path StreamingSpec drives with MemoryStreams: in batch, the
      // state function runs once per user with the full event iterator,
      // so the emission IS the final running total — which the oracle
      // replays as a plain per-user aggregate. total_value is a
      // sequential double fold (order-sensitive at 1e-15) → 6dp, the
      // standing policy; n_events compares exactly.
      import s.implicits._
      // user_id/value are non-nullable fields of Event: a null would
      // crash the Spark-side decode while the oracle would happily
      // emit a NULL group — filter BOTH sides (stream_sessionized's
      // defensive discipline; no-op on current testdata, which has no
      // null user_id/value)
      val ev = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.runningUserTotals(ev, idleTimeout = None)
        .toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 6).as("total_value"))
        .orderBy("user_id")
    }),

    "stream_nb_score" -> ((s, dir) => {
      // frozen-model streaming scoring run FOR REAL: fit the NB quality
      // classifier ONCE in batch (same salted seed + 2/3 train split as
      // text_nb_quality), pin the fitted frames, then deliver the
      // held-out 1/3 as a 3-batch file-source stream scored per
      // micro-batch by EventStreams.nbScoreSink against the FROZEN
      // broadcast model. Scoring is stateless across batches, so the
      // sink's union must be float-identical to batch-scoring the
      // union — the oracle IS text_nb_quality's oracle. File mtimes are
      // pinned so the file source replays the intended batch sequence.
      val base = s"/tmp/graft_nbscore_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val salted = tbl(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" clean curated reference"))
            .otherwise(lit(" spamword clickbait"))).as("text"),
        (col("doc_id") % 2 === 0).as("label"))
      val model = graft.operators.QualityClassifier.trainNbQuality(
        salted.filter(col("doc_id") % 3 =!= 0),
        "label", "text", vocabSize = 35, smoothing = 1.0)
      val frozen = graft.operators.QualityClassifier.NbModel(
        Materialize.once(model.termLogProbs, eager = true),
        Materialize.once(model.stats, eager = true))
      val held = salted.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val n = held.agg(max("doc_id")).head().getLong(0) + 1
      val batches = (0 until 3).map(b =>
        held.filter(col("doc_id") * 3 / n >= b && col("doc_id") * 3 / n < b + 1))
      // frozen-model scoring is STATELESS across batches, so the gate
      // value is independent of batch composition — unlike the dedup/
      // upsert gates (whose oracles unroll a specific batch sequence),
      // each tercile can stage as 8 parallel part files (a coalesce(1)
      // write here was a single-core corpus rewrite at sf10) grouped
      // into one trigger by maxFilesPerTrigger below
      batches.zipWithIndex.foreach { case (df, b) =>
        val tmp = s"$base/tmp$b"
        df.repartition(8).write.mode("overwrite").parquet(tmp)
        fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).filter(_.getName.startsWith("part-"))
          .zipWithIndex.foreach { case (part, i) =>
            val dest = new org.apache.hadoop.fs.Path(s"$base/in/batch${b}_$i.parquet")
            fs.rename(part, dest)
            fs.setTimes(dest, 60000L * (b + 1), -1)
          }
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val stream = s.readStream.schema(held.schema)
        .option("maxFilesPerTrigger", "8").parquet(s"$base/in")
      val q = graft.streaming.EventStreams.nbScoreSink(stream, frozen,
        s"$base/scores", "doc_id", "text",
        checkpointDir = Some(s"$base/ckpt"))
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/scores")
        .select(col("doc_id"), col("n_tokens"), col("logit"), col("keep"))
        .orderBy("doc_id")
    }),

    "stream_cms_counts" -> ((s, dir) => {
      // streaming CMS accumulation run FOR REAL: the full corpus
      // arrives as a 3-batch file-source stream, each batch's token
      // sketch cell-summed EXACTLY ONCE (batch-id marker protocol)
      // into the persisted depth×width state; mergeability means the
      // final state must equal the batch sketch of the union
      // byte-for-byte, so the estimates replay text_cms_counts'
      // oracle verbatim (same tight 4×64 shape — collisions certain,
      // the min-estimator exercised; est ≥ true asserted in-query).
      val base = s"/tmp/graft_cmsacc_${dirTag(dir)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(basePath, true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      // exactly-once cell-summing makes the final state independent of
      // batch composition, so the staging only has to DELIVER the
      // corpus in multiple batches, not partition it by any key. When
      // the source table is already a directory of >= 3 part files
      // (the /tmp/sfN scale dirs), stage by BYTE-COPY of those files
      // into tercile mtime groups — no decode/shuffle/encode of the
      // corpus at all (the round-15 sweep's ~1.3x over-linear reading
      // on this gate was exactly the repartition-rewrite's staging IO,
      // closed by inspection; this closes it by construction). The
      // driver's single-file testdata keeps the original 3-tercile
      // rewrite so the multi-batch accumulation path stays exercised
      // at oracle scales.
      val srcPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val srcParts =
        if (fs.getFileStatus(srcPath).isDirectory)
          fs.listStatus(srcPath).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        else Array.empty[org.apache.hadoop.fs.Path]
      val filesPerTrigger = if (srcParts.length >= 3) {
        srcParts.zipWithIndex.foreach { case (part, i) =>
          val b = i * 3 / srcParts.length
          val dest = new org.apache.hadoop.fs.Path(s"$base/in/batch${b}_$i.parquet")
          org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dest, false,
            s.sessionState.newHadoopConf())
          fs.setTimes(dest, 60000L * (b + 1), -1)
        }
        math.max(1, (srcParts.length + 2) / 3)
      } else {
        val n = docs.agg(max("doc_id")).head().getLong(0) + 1
        val batches = (0 until 3).map(b =>
          docs.filter(col("doc_id") * 3 / n >= b && col("doc_id") * 3 / n < b + 1))
        batches.zipWithIndex.foreach { case (df, b) =>
          val tmp = s"$base/tmp$b"
          df.repartition(8).write.mode("overwrite").parquet(tmp)
          fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
            .map(_.getPath).filter(_.getName.startsWith("part-"))
            .zipWithIndex.foreach { case (part, i) =>
              val dest = new org.apache.hadoop.fs.Path(s"$base/in/batch${b}_$i.parquet")
              fs.rename(part, dest)
              fs.setTimes(dest, 60000L * (b + 1), -1)
            }
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        }
        8
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(s"$base/in")
      val terms = stream.select(explode_outer(
        graft.functions.TextFunctions.lowerWsTokens(col("text"))).as("term"))
        .where(col("term").isNotNull)
      val q = graft.streaming.EventStreams.cmsAccumulateSink(terms,
        s"$base/sketch", depth = 4, width = 64,
        checkpointDir = Some(s"$base/ckpt"))
      try q.processAllAvailable() finally q.stop()
      val sketch = s.read.parquet(s"$base/sketch")
      val words = graft.Materialize.once(
        tbl(s, dir, "documents").select(explode_outer(
          graft.functions.TextFunctions.lowerWsTokens(col("text"))).as("term"))
          .where(col("term").isNotNull))
      val truth = words.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      val top = truth.orderBy(col("true_cnt").desc, col("term")).limit(20)
      val out = graft.Materialize.once(
        Cms.cmsEstimate(sketch, top.select("term"), "term",
            depth = 4, width = 64)
          .join(broadcast(top), Seq("term"))
          .select(col("term"), col("est"), col("true_cnt")),
        eager = true)
      val under = out.filter(col("est") < col("true_cnt")).count()
      require(under == 0, s"CMS underestimated $under terms — impossible by construction")
      out.orderBy("term")
    }),

    "q31_subqueries" -> ((s, dir) => {
      tbl(s, dir, "orders"); tbl(s, dir, "customer")
      // correlated EXISTS + scalar subquery (max-based threshold keeps the
      // comparison FP-exact across engines)
      graft.sql.GraftSql.run(s,
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (
          |  SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey
          |    AND o.o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.8)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "q29_pivot" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
        .orderBy("l_linestatus")
    }),

    "q30_unpivot" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    }),

    "approx_distinct" -> ((s, dir) => {
      // HLL++ sketch vs exact distinct, per language group. The EMITTED
      // columns are exact (oracle-comparable); the in-query require pins
      // the sketch contract — approx_count_distinct is what a 100 TB
      // pipeline reaches for when exact distinct would shuffle every key,
      // and this gate keeps its error bounded on our session config the
      // same way the ANN gates pin recall.
      val agg = tbl(s, dir, "documents").groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_distinct"),
          approx_count_distinct(col("doc_id"), 0.02).as("approx"),
          count(lit(1)).as("n_rows"))
        .transform(Materialize.once(_, eager = true))
      val bad = agg.filter(abs(col("approx") - col("n_distinct")) >
        col("n_distinct") * 0.1 + lit(10)).count()
      require(bad == 0, s"approx_count_distinct out of tolerance for $bad groups")
      agg.select(col("lang"), col("n_distinct"), col("n_rows")).orderBy("lang")
    }),

    "mm_audio_dedup" -> ((s, dir) => {
      // audio analog of mm_image_dedup: consecutive ids carry
      // byte-identical group-keyed WAVs whose windowed energy profile
      // encodes splitmix(group), so fingerprints are distinct across
      // groups and identical within — expected pairs are exactly
      // (2g, 2g+1), computed through the REAL RIFF parse + 64-window
      // energy fingerprint and the shared banded-Hamming machinery.
      val wavs = Multimodal.synthesizeWavs(
        tbl(s, dir, "documents").filter(col("doc_id") < 200), "doc_id",
        groupEvery = 2)
      Multimodal.audioNearDupPairs(wavs, "id", "content", maxHamming = 0)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "mm_image_dedup" -> ((s, dir) => {
      // image near-dup pairs over REAL PNG payloads: consecutive ids
      // carry byte-identical synthesized pictures (content keyed by
      // id/2, dims >= 8x8), so the expected pair set is arithmetically
      // predictable — exactly the (2g, 2g+1) pairs — while the hashes
      // travel the real ImageIO decode + 8x8 aHash path and the SAME
      // banded Hamming machinery as text simhash dedup.
      val imgs = Multimodal.synthesizePngs(
        tbl(s, dir, "documents").filter(col("doc_id") < 200), "doc_id",
        groupEvery = 2)
      Multimodal.imageNearDupPairs(imgs, "id", "content", maxHamming = 0)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "corpus_quantiles" -> ((s, dir) => {
      // per-language document-length quantiles — the corpus-report signal
      // a curation pipeline watches for drift. Spark `percentile` and
      // DuckDB `quantile_cont` both linearly interpolate over sorted
      // values; on integer n_chars the interpolation arithmetic is
      // engine-identical (x + (y-x)·f on exact-integer doubles), so the
      // gate compares value-exact without rounding.
      tbl(s, dir, "documents")
        .groupBy("lang")
        .agg(
          expr("percentile(n_chars, 0.25)").as("p25"),
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.75)").as("p75"),
          expr("percentile(n_chars, 0.95)").as("p95"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // ---- incremental merge (CDC apply) ---------------------------------

    "merge_scd2" -> ((s, dir) => {
      // SCD-2 history fold: every event is a versioned change to its
      // key (event_id % 997), 'error' events are tombstones. Applied in
      // TWO sequential batches split at the key's median version — the
      // second apply must close the first batch's open rows — and the
      // emitted full history (validity chain with delete gaps) matches
      // DuckDB's single-pass window construction value-exact.
      val ev = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select((col("event_id") % 997).as("k"), col("event_id").as("v"),
          col("value"), col("event_type"),
          (col("event_type") === "error").as("is_del"))
      // batch1 must hold strictly EARLIER versions per key than batch2
      // (an interleaved split would trip the stale guard by design):
      // v DIV 997 is the per-key dense ordinal, so a fixed threshold
      // splits every key's timeline at the same point at every sf
      val ord = (col("v") / 997).cast("long")
      val batch1 = ev.filter(ord < 5)
      val batch2 = ev.filter(ord >= 5)
      val emptyHistory = ev.filter(lit(false))
        .select(col("k"), col("value"), col("event_type"),
          col("v").as("valid_from"), col("v").as("valid_to"))
      val h1 = Merge.scd2Apply(emptyHistory, batch1, Seq("k"), "v",
        deleteCol = "is_del")
      Merge.scd2Apply(h1, batch2, Seq("k"), "v", deleteCol = "is_del")
        .orderBy("k", "valid_from")
    }),

    "merge_scd2_snapshot" -> ((s, dir) => {
      // the question SCD-2 lineage exists for: corpus state AS OF a
      // fixed version — keys inside a delete gap return no row
      val ev = tbl(s, dir, "events")
        .filter(col("event_id").isNotNull)
        .select((col("event_id") % 997).as("k"), col("event_id").as("v"),
          col("value"), col("event_type"),
          (col("event_type") === "error").as("is_del"))
      val emptyHistory = ev.filter(lit(false))
        .select(col("k"), col("value"), col("event_type"),
          col("v").as("valid_from"), col("v").as("valid_to"))
      val history = Merge.scd2Apply(emptyHistory, ev, Seq("k"), "v",
        deleteCol = "is_del")
      Merge.scd2Snapshot(history, lit(6979L)).orderBy("k")
    }),

    "merge_upsert" -> ((s, dir) => {
      // fold a deterministic changeset into the orders snapshot: %7 keys
      // get a re-priced update (v=1), %13 keys a tombstone (v=2 — so on
      // keys divisible by both, the delete outranks the update), %17 keys
      // spawn a shifted-key insert. ×1.5 is binary-exact, so the updated
      // price is bit-identical across engines without rounding.
      val orders = tbl(s, dir, "orders")
      val snapshot = orders.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"),
        lit(0L).as("v"))
      val updates = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit("U").as("status"),
          (col("o_totalprice") * 1.5).as("price"), lit(1L).as("v"),
          lit(false).as("is_deleted"))
      val deletes = orders.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"), lit(2L).as("v"),
          lit(true).as("is_deleted"))
      val inserts = orders.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 100000000L).as("k"), lit("I").as("status"),
          col("o_totalprice").as("price"), lit(1L).as("v"),
          lit(false).as("is_deleted"))
      Merge.applyChangeset(snapshot,
          updates.unionByName(deletes).unionByName(inserts), Seq("k"), "v")
        .orderBy("k")
    }),

    "merge_diff" -> ((s, dir) => {
      // the inverse direction: old snapshot vs a deterministically
      // transformed new snapshot (same %7 reprice / %13 delete / %17
      // shifted-insert shape as merge_upsert) → minimal changeset with
      // consumed-side tombstones carrying the OLD payload
      val orders = tbl(s, dir, "orders")
      val oldSnap = orders.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"),
        lit(0L).as("v"))
      val survivors = orders.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, lit("U")).otherwise(col("o_orderstatus")).as("status"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.5)
            .otherwise(col("o_totalprice")).as("price"),
          when(col("o_orderkey") % 7 === 0, lit(1L)).otherwise(lit(0L)).as("v"))
      val inserts = orders.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 100000000L).as("k"), lit("I").as("status"),
          col("o_totalprice").as("price"), lit(1L).as("v"))
      Merge.diffSnapshots(oldSnap, survivors.unionByName(inserts), Seq("k"), "v")
        .orderBy("k")
    }),

    // ---- splits & packing ----------------------------------------------

    "split_hash" -> ((s, dir) => {
      Sampling.hashSplit(tbl(s, dir, "documents").select("doc_id", "lang"), "doc_id", 80)
        .orderBy("doc_id")
    }),

    "text_unicode_nfc" -> ((s, dir) => {
      // the corpus is pure ASCII (the fast path returns it untouched),
      // so a decomposed suffix is appended to make normalization
      // genuinely fire: NFC must compose e+U+0301 → é and A+U+030A →
      // Å, and the code-point counts prove it (each combining pair
      // collapses by one). DuckDB's nfc_normalize is the oracle.
      import graft.functions.TextFunctions
      val raw = concat(col("text"), lit(" cafe\u0301 A\u030a"))
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.normalizeUnicode(raw).as("norm_text"),
        length(TextFunctions.normalizeUnicode(raw)).cast("long").as("n_chars_norm"),
        length(raw).cast("long").as("n_chars_raw"))
        .orderBy("doc_id")
    }),

    "text_quantile_buckets" -> ((s, dir) => {
      // CCNet-style per-group terciles (head/middle/tail), exercised on
      // an exactly-reproducible score (n_chars: exact ints, and the
      // corpus_quantiles gate already proves Spark percentile ≡ DuckDB
      // quantile_cont on this very column+grouping). exact = true is
      // the oracle-parity mode; production default is the mergeable GK
      // sketch. The canonical perplexity-tercile composition
      // (bigramLmScore → buckets) is semantics-identical but its score
      // is an avg whose last-ulp drifts cross-engine — a gate on it
      // would flake at threshold boundaries, so the gate pins the
      // operator on the drift-free score instead.
      Curation.quantileBuckets(tbl(s, dir, "documents")
          .select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", exact = true)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))
        .orderBy("doc_id")
    }),

    "mix_weights" -> ((s, dir) => {
      // data-mixing gate: resample documents to a 0.5/0.3/0.2
      // en/fr/de language mixture (es/zh dropped — the allowlist
      // contract), largest downsample-only size. The oracle re-derives
      // the per-source rates from counts with the identical IEEE
      // operation tree (no normalization sum anywhere — see
      // mixToWeights) and replays the md5 fine-bucket threshold, so the
      // kept row SET compares exactly.
      Sampling.mixToWeights(tbl(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 0.5, "fr" -> 0.3, "de" -> 0.2))
        .orderBy("doc_id")
    }),

    "sample_weighted" -> ((s, dir) => {
      // Efraimidis–Spirakis weight-proportional sample: top-40 docs by
      // ln(u)/n_chars with the deterministic md5 draw. es_key at 9dp
      // (magnitudes ~1e-3: keeps ~6 significant digits, far above
      // ln()'s last-ulp engine noise); rank on the rounded key.
      Sampling.weightedSample(
          tbl(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", k = 40, rankRoundDp = 9)
        .select(col("doc_id"), col("n_chars"),
          round(col("es_key"), 9).as("es_key"), col("rank"))
        .orderBy("rank")
    }),

    "split_k_per_group" -> ((s, dir) => {
      // exactly-25-per-language balanced sample (the eval-set
      // primitive): md5-priority order replays verbatim in SQL, so
      // the row SET and the ranks compare exactly.
      Sampling.samplePerGroup(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", k = 25)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy("doc_id")
    }),

    "sample_dsir" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al. 2023): salt the corpus
      // with parity marker tokens (the text carries no intrinsic
      // signal — same trick as text_nb_quality), take the even-salted
      // doc_id%3==0 slice as the "Wikipedia" target, and Gumbel-top-50
      // the raw corpus by hashed-bigram importance weight. B=256 keeps
      // real hash collisions in play; every random draw is the
      // deterministic md5 fold, so the oracle replays the full method
      // — hashing, smoothing, noise — value-exact. rank on the
      // 6dp-rounded key (id tiebreak): the bm25 rank policy.
      val salted = tbl(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" clean curated reference"))
            .otherwise(lit(" spamword clickbait"))).as("text"))
      val target = salted
        .filter(col("doc_id") % 2 === 0 && col("doc_id") % 3 === 0)
      graft.operators.Dsir.dsirResample(salted, "doc_id", "text",
          target, "text", k = 50, buckets = 256, smoothing = 1.0,
          saltTag = "#dsir", rankRoundDp = 6)
        .select(col("doc_id"), col("n_features"),
          round(col("log_w"), 6).as("log_w"),
          round(col("gumbel_key"), 6).as("gumbel_key"), col("rank"))
        .orderBy("rank")
    }),

    "sample_token_budget" -> ((s, dir) => {
      // deterministic budget prefix in md5-priority order; n_chars
      // stands in for the token count (exact integers, same cumsum in
      // any engine). Budget 100k BINDS at every sf (sf0.01 corpus
      // totals ~149k chars, sf0.1 ~1.49M) so the boundary doc is
      // genuinely excluded, not vacuously kept.
      Sampling.tokenBudgetSample(tbl(s, dir, "documents")
          .select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", budget = 100000L)
        .orderBy("doc_id")
    }),

    "split_leakage_safe" -> ((s, dir) => {
      // near-dup groups follow their representative into one split.
      // Pairs are the EXACT-verified minhash pairs (J >= 0.5) and the
      // representative is the fixpoint min-id component — both
      // engine-replicable, so the oracle recomputes the whole assignment
      // (all-pairs Jaccard + recursive-CTE reachability + md5 bucket).
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashExactPairs(docs, "doc_id", "text",
        Dedup.MinHashConfig(numHashes = 128, bands = 64), exactThreshold = 0.5)
      Sampling.leakageSafeSplit(docs.select("doc_id", "lang"), "doc_id", pairs, 80)
        .orderBy("doc_id")
    }),

    "skew_salted_agg" -> ((s, dir) => {
      // per-row-salted two-phase aggregation must be value-identical to a
      // plain GROUP BY for decomposable aggregates (l_quantity is
      // integer-valued, so the double sum is order-independent and exact)
      Skew.saltedSumCount(
        tbl(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), round(col("sum"), 2).as("sum_qty"),
          col("count").as("cnt"))
        .orderBy("l_returnflag")
    }),

    "skew_salted_join" -> ((s, dir) => {
      // salted inner join must be row-identical to the plain equi-join;
      // the replicated small side is the filtered orders dimension
      val big = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      val small = tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      Skew.saltedJoin(big, small, Seq("l_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderstatus")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "split_stratified" -> ((s, dir) => {
      // rebalance the training mix: heavily downsample the dominant
      // language, keep the rest — deterministic md5 bucketing, map-side
      Sampling.stratifiedSample(
        tbl(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 30, "zh" -> 60), defaultPct = 100)
        .orderBy("doc_id")
    }),

    "pack_nextfit" -> ((s, dir) => {
      Sampling.nextFitPack(
        tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        countCol = "n_chars", orderCol = "doc_id",
        budget = 2048L, shardCol = Some("lang"))
        .orderBy("doc_id")
    }),

    // ---- multimodal plumbing (stubbed decode) --------------------------

    "mm_decode" -> ((s, dir) => {
      val withBin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeImages(withBin, "doc_id", "payload")
        .toDF().withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "mm_resize" -> ((s, dir) => {
      // text payloads have no image magic → the deterministic stub-meta
      // passthrough, which a SQL oracle can replicate exactly (the
      // payload bytes are asserted untouched by OperatorsSpec instead)
      val withBin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.resizeImages(withBin, "doc_id", "payload", 64, 48)
        .toDF().select(col("id").as("doc_id"), col("width"), col("height"),
          col("format"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL ImageIO path, value-gated ---------------------
    // The mm_decode/mm_resize gates above exercise the stub path (driver
    // testdata text-casts payloads — no image magic). These two close the
    // evidence gap: genuine PNG binaries are synthesized DISTRIBUTED with
    // dimensions that are a pure function of doc_id, so DuckDB predicts
    // the decoded metadata without any image library. Decode must run the
    // real ImageIO path (PNG magic + bounded IHDR) to produce these rows.

    "mm_decode_real" -> ((s, dir) => {
      val ids = tbl(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(500)
      Multimodal.decodeImages(Multimodal.synthesizePngs(ids, "doc_id"), "id", "content")
        .toDF().select(col("id").as("doc_id"), col("width"), col("height"),
          col("channels"), col("format"))
        .orderBy("doc_id")
    }),

    "mm_resize_real" -> ((s, dir) => {
      // resize the synthesized PNGs, then DECODE THE RESIZED BYTES — the
      // emitted dims come from the re-decoded raster, proving the resize
      // produced a real 8×6 PNG (not just trusted metadata)
      val ids = tbl(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(500)
      val resized = Multimodal.resizeImages(
        Multimodal.synthesizePngs(ids, "doc_id"), "id", "content", 8, 6)
      Multimodal.decodeImages(resized.toDF(), "id", "content")
        .toDF().select(col("id").as("doc_id"), col("width"), col("height"),
          col("channels"), col("format"))
        .orderBy("doc_id")
    })
  )

  // ---------------------------------------------------------------------

  /** DuckDB oracle SQL per query (column names must match exactly). */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order,
        |  round(sum(l_quantity), 2) / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus",

    "q4_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",

    "q5_case_cast" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_long
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q6_like" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%bolt%' OR p_type ILIKE '%economy%'
        |ORDER BY p_partkey""".stripMargin,

    "q7_null_handling" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN pri IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_not_null
        |FROM (SELECT o_orderstatus, nullif(o_orderpriority, '1-URGENT') AS pri FROM orders) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q8_having" ->
      """SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
        |FROM orders GROUP BY o_custkey
        |HAVING total_spent > 1000000 ORDER BY o_custkey""".stripMargin,

    "q9_strftime" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%d/%m/%Y') AS dstr FROM orders ORDER BY o_orderkey",

    "q10_substr_mod" ->
      """SELECT c_custkey, SUBSTR(c_name, 1, 8) AS name8, c_custkey % 7 AS m
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q11_cte" ->
      """WITH spend AS (
        |  SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT o_custkey, total FROM spend WHERE total > 500000 ORDER BY o_custkey""".stripMargin,

    "q12_star_except" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_linestatus
        |FROM lineitem WHERE l_quantity >= 49
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q13_star_combo" ->
      """SELECT o_orderkey, o_orderstatus || '_x' AS o_orderstatus,
        |  o_custkey AS customer_key, o_totalprice, order_year
        |FROM (SELECT *, CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year FROM orders) t
        |WHERE order_year >= 1998 ORDER BY o_orderkey""".stripMargin,

    "q14_sort_nulls" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        |FROM customer ORDER BY seg DESC NULLS FIRST, c_custkey ASC""".stripMargin,

    "q15_window" ->
      """SELECT user_id, event_id, rn, running_value, prev_event FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |    round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
        |    lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_event
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q16_join_agg" ->
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q17_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q18_union" ->
      """SELECT c_custkey AS k FROM customer
        |UNION SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin,

    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q33_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q34_describe" ->
      """WITH s AS (SELECT
        |    count(l_quantity) AS n_q, CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_q,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_q, CAST(max(l_quantity) AS DOUBLE) AS max_q, round(sum(l_quantity),2) AS sum_q,
        |    count(l_extendedprice) AS n_e, CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_e,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS min_e, CAST(max(l_extendedprice) AS DOUBLE) AS max_e, round(sum(l_extendedprice),2) AS sum_e,
        |    count(l_discount) AS n_d, CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_d,
        |    CAST(min(l_discount) AS DOUBLE) AS min_d, CAST(max(l_discount) AS DOUBLE) AS max_d, round(sum(l_discount),2) AS sum_d
        |  FROM lineitem)
        |SELECT 'l_discount' AS col_name, n_d AS n, nn_d AS n_null, min_d AS min, max_d AS max, sum_d AS sum, sum_d / n_d AS mean FROM s
        |UNION ALL
        |SELECT 'l_extendedprice', n_e, nn_e, min_e, max_e, sum_e, sum_e / n_e FROM s
        |UNION ALL
        |SELECT 'l_quantity', n_q, nn_q, min_q, max_q, sum_q, sum_q / n_q FROM s
        |ORDER BY col_name""".stripMargin,

    "q20_time_agg" ->
      """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q21_json" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q22_minmax_distinct" ->
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS first_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q23_intersect" ->
      """SELECT o_custkey AS k FROM orders
        |INTERSECT
        |SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |ORDER BY k""".stripMargin,

    "q24_except_setop" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,

    "q25_strings" ->
      """SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
        |  CAST(length(c_name) AS BIGINT) AS len,
        |  concat_ws('-', c_mktsegment, c_name) AS joined,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q26_dates" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q27_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25) AS dev,
        |  sqrt(l_quantity) AS root,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS kprice_floor,
        |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS kprice_ceil,
        |  CAST(sign(l_quantity - 25) AS INTEGER) AS sgn,
        |  pow(l_linenumber, 2) AS sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q28_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin,

    "t1_drop_regex" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t2_normalize_euro" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(replace(replace(
        |    CAST(l_partkey AS VARCHAR) || '.' || CAST(l_suppkey AS VARCHAR) || ',' ||
        |    CAST(l_linenumber AS VARCHAR), '.', ''), ',', '.') AS DOUBLE) AS euro
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t3_replace_null" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN trim(marked) IN ('', '<N/D>', 'NA') THEN NULL ELSE marked END AS marked
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CASE WHEN l_linenumber % 3 = 0 THEN ' NA '
        |             WHEN l_linenumber % 3 = 1 THEN '<N/D>'
        |             ELSE l_returnflag END AS marked
        |      FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t5_remove_null_cols" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t6_row_index" ->
      """SELECT row_number() OVER (ORDER BY o_orderkey) AS rid, o_orderkey, o_totalprice
        |FROM orders ORDER BY rid""".stripMargin,

    "t7_round_floats" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 0) AS l_extendedprice,
        |  round(l_quantity, 0) AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // zero-denominator guards mirror qualityColumns: ratios are NULL for
    // empty / whitespace-only docs (Spark ANSI would otherwise throw)
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CASE WHEN length(text) > 0 THEN
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha_ratio,
        |  CASE WHEN length(text) > 0 THEN
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
        |  CASE WHEN length(text) > 0 THEN
        |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) END AS ws_ratio,
        |  CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) > 0 THEN
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |      len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) END AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN en IS NULL THEN NULL
        |    WHEN en >= de AND en >= fr AND en >= es AND en >= pt AND en > 0 THEN 'en'
        |    WHEN de >= fr AND de >= es AND de >= pt AND de > 0 THEN 'de'
        |    WHEN fr >= es AND fr >= pt AND fr > 0 THEN 'fr'
        |    WHEN es >= pt AND es > 0 THEN 'es'
        |    WHEN pt > 0 THEN 'pt'
        |    ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','a','and','of','to','in','is','that'))) AS en,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('le','la','les','et','est','un','une','dans'))) AS fr,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('el','los','las','es','un','una','que','en'))) AS es,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('o','os','as','um','uma','que','em','para'))) AS pt
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // window identity: literal 8-token window strings here vs positional
    // 64-bit hashes Spark-side — the hash-for-string substitution every
    // dedup gate relies on (collisions negligible at gate scale)
    "text_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |rep AS (
        |  SELECT w, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_id
        |  FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2)
        |SELECT wins.doc_id, wins.pos, rep.n_docs, rep.first_id
        |FROM wins JOIN rep USING (w) ORDER BY doc_id, pos""".stripMargin,

    // rebuild contract mirrored from stripRepeatedWindows: only docs
    // with a flagged span are rebuilt (canonical single-space join of
    // surviving ORIGINAL-case tokens, '' when fully covered); all other
    // docs pass through verbatim
    "text_strip_repeated" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS lws,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ows
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(lws[i:i+7], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(lws) - 6)) AS t(i)
        |  WHERE len(lws) >= 8),
        |rep AS (SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT m.doc_id, t2.j
        |  FROM (SELECT wins.doc_id, wins.pos FROM wins JOIN rep USING (w)) m,
        |       UNNEST(range(m.pos, m.pos + 8)) AS t2(j)),
        |tokrows AS (
        |  SELECT doc_id, i - 1 AS idx, ows[i] AS tok
        |  FROM toks, UNNEST(range(1, len(ows) + 1)) AS t(i)),
        |touched AS (SELECT DISTINCT doc_id FROM cov),
        |kept AS (
        |  SELECT tr.doc_id, tr.idx, tr.tok
        |  FROM tokrows tr
        |  JOIN touched USING (doc_id)
        |  LEFT JOIN cov ON cov.doc_id = tr.doc_id AND cov.j = tr.idx
        |  WHERE cov.j IS NULL),
        |rebuilt AS (
        |  SELECT touched.doc_id, coalesce(agg.new_text, '') AS new_text
        |  FROM touched LEFT JOIN (
        |    SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS new_text
        |    FROM kept GROUP BY doc_id) agg ON agg.doc_id = touched.doc_id)
        |SELECT d.doc_id, coalesce(r.new_text, d.text) AS text,
        |       CAST(len(coalesce(r.new_text, d.text)) AS BIGINT) AS n_chars
        |FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all default; replacement backrefs are \1 (RE2) vs $1 (Java)
    "text_pii" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text ELSE
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |      '@example.com at 10.', CAST(doc_id % 256 AS VARCHAR),
        |      '.0.', CAST(doc_id % 100 AS VARCHAR),
        |      ' tel +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS text_redacted
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END AS g2,
        |    CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS g3
        |  FROM w)
        |SELECT doc_id,
        |  CASE WHEN len(w) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1 AS DOUBLE) - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS dup_word_frac,
        |  CASE WHEN len(g2) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1 AS DOUBLE) - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1 AS DOUBLE) - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 5 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')) END) AS g
        |  FROM words),
        |bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT t.doc_id, count(*) AS n_overlap
        |  FROM train t JOIN bench b ON t.gram = b.gram GROUP BY t.doc_id)
        |SELECT g.doc_id,
        |  coalesce(h.n_overlap, 0) AS n_overlap,
        |  CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
        |FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |WHERE g.doc_id % 97 <> 0 ORDER BY g.doc_id""".stripMargin,

    "text_vocab" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0)) AS word
        |  FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs,
        |                 (sum(dl)::DOUBLE / count(*)::DOUBLE) AS avgdl FROM dl),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |queries(query_id, qtext) AS (
        |  VALUES (1::BIGINT, 'table scan'), (2::BIGINT, 'window merge'),
        |         (3::BIGINT, 'customer vector')),
        |qterms AS (
        |  SELECT query_id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(trim(qtext)), '\s+'), x -> len(x) > 0))) AS term
        |  FROM queries),
        |scored AS (
        |  SELECT q.query_id, t.doc_id,
        |    sum(ln(1.0 + (s.n_docs - t2.df::DOUBLE + 0.5) / (t2.df::DOUBLE + 0.5))
        |        * (t.tf::DOUBLE * (1.2 + 1.0))
        |        / (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * d.dl::DOUBLE / s.avgdl))) AS score
        |  FROM tf t
        |  JOIN qterms q USING (term)
        |  JOIN dfreq t2 USING (term)
        |  JOIN dl d ON d.doc_id = t.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY q.query_id, t.doc_id),
        |ranked AS (
        |  SELECT query_id,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank,
        |    doc_id, score
        |  FROM scored)
        |SELECT query_id, rank, doc_id, round(score, 6) AS score
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "text_bm25_index" ->
      // identical BM25 fold as text_bm25 (the index is build-path
      // plumbing, not a scoring change), different 2-term query set
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs,
        |                 (sum(dl)::DOUBLE / count(*)::DOUBLE) AS avgdl FROM dl),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |queries(query_id, qtext) AS (
        |  VALUES (1::BIGINT, 'hash join'), (2::BIGINT, 'stream filter'),
        |         (3::BIGINT, 'batch sort')),
        |qterms AS (
        |  SELECT query_id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(trim(qtext)), '\s+'), x -> len(x) > 0))) AS term
        |  FROM queries),
        |scored AS (
        |  SELECT q.query_id, t.doc_id,
        |    sum(ln(1.0 + (s.n_docs - t2.df::DOUBLE + 0.5) / (t2.df::DOUBLE + 0.5))
        |        * (t.tf::DOUBLE * (1.2 + 1.0))
        |        / (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * d.dl::DOUBLE / s.avgdl))) AS score
        |  FROM tf t
        |  JOIN qterms q USING (term)
        |  JOIN dfreq t2 USING (term)
        |  JOIN dl d ON d.doc_id = t.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY q.query_id, t.doc_id),
        |ranked AS (
        |  SELECT query_id,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank,
        |    doc_id, score
        |  FROM scored)
        |SELECT query_id, rank, doc_id, round(score, 6) AS score
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf * ln((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) FROM documents) / dfreq.df) AS tfidf
        |  FROM tf JOIN dfreq USING (term)),
        |ranked AS (
        |  SELECT scored.*, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, round(tfidf, 6) AS tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "emb_quantize" ->
      """SELECT vec_id,
        |  CASE WHEN m > 0 THEN m / 127.0 ELSE CAST(0 AS DOUBLE) END AS scale,
        |  array_to_string(CASE WHEN m > 0
        |    THEN list_transform(v, x -> CAST(floor(x / (m / 127.0) + 0.5) AS INT))
        |    ELSE list_transform(v, x -> 0) END, ',') AS q_str
        |FROM (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
        |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings) a) b
        |ORDER BY vec_id""".stripMargin,

    "emb_jl_project" ->
      // the sign matrix re-derives per (i, k) from the same md5 fold
      // Spark builds its broadcast matrix from — s(i,k) = low bit of
      // md5("rp#rp#i#k")'s first hex digit, mapped to ±1
      """WITH proj AS (
        |  SELECT e.vec_id, k.range AS k,
        |    list_sum(list_transform(range(64), i ->
        |      CAST(e.embedding[i + 1] AS DOUBLE) *
        |      CAST(((ascii(substr(md5('rp#rp#' || CAST(i AS VARCHAR) || '#' || CAST(k.range AS VARCHAR)), 1, 1))
        |             - CASE WHEN ascii(substr(md5('rp#rp#' || CAST(i AS VARCHAR) || '#' || CAST(k.range AS VARCHAR)), 1, 1)) >= 97
        |                    THEN 87 ELSE 48 END) % 2) * 2 - 1 AS DOUBLE)))
        |      * (1.0 / sqrt(16.0)) AS y
        |  FROM embeddings e CROSS JOIN range(16) k)
        |SELECT vec_id, CAST(k AS BIGINT) AS k, round(y, 6) AS y
        |FROM proj
        |ORDER BY vec_id, k""".stripMargin,

    "text_chunk" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, w, unnest(range(0, ((len(w) - 1) // 20) + 1)) AS i
        |  FROM w WHERE len(w) > 0)
        |SELECT doc_id, i AS chunk_id,
        |  array_to_string(w[i * 20 + 1 : i * 20 + 30], ' ') AS chunk_text,
        |  least(CAST(30 AS BIGINT), len(w) - i * 20) AS n_tokens
        |FROM off ORDER BY doc_id, chunk_id""".stripMargin,

    // synthesizeWavs parameters: 8-bit mono at 8000 Hz with
    // (doc_id % 5 + 1) * 800 samples — every output column is id
    // arithmetic, so parse correctness is what the hash check proves
    "mm_audio_meta" ->
      """SELECT doc_id AS id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(8 AS BIGINT) AS bits_per_sample,
        |  CAST((doc_id % 5 + 1) * 800 AS BIGINT) AS n_samples,
        |  CAST((doc_id % 5 + 1) * 100 AS BIGINT) AS duration_ms,
        |  'wav' AS format
        |FROM documents WHERE doc_id < 200 ORDER BY id""".stripMargin,

    "mm_audio_chunk" ->
      """WITH d AS (
        |  SELECT doc_id AS id, (doc_id % 5 + 1) * 100 AS dur
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT id, dur, unnest(range(0, CAST((dur - 1) // 100 + 1 AS BIGINT))) AS chunk_id
        |  FROM d)
        |SELECT id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(chunk_id * 100 AS BIGINT) AS start_ms,
        |  CAST(least(chunk_id * 100 + 150, dur) AS BIGINT) AS end_ms
        |FROM c ORDER BY id, chunk_id""".stripMargin,

    // mean_chars = IEEE division of the exact BIGINT sum by the exact
    // count — bit-reproducible (header policy)
    "text_corpus_report" ->
      """WITH lang AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS toks,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CASE
        |      WHEN en IS NULL THEN NULL
        |      WHEN en >= de AND en >= fr AND en >= es AND en >= pt AND en > 0 THEN 'en'
        |      WHEN de >= fr AND de >= es AND de >= pt AND de > 0 THEN 'de'
        |      WHEN fr >= es AND fr >= pt AND fr > 0 THEN 'fr'
        |      WHEN es >= pt AND es > 0 THEN 'es'
        |      WHEN pt > 0 THEN 'pt'
        |      ELSE 'und' END AS lang
        |  FROM (
        |    SELECT doc_id, source, text,
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','a','and','of','to','in','is','that'))) AS en,
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('le','la','les','et','est','un','une','dans'))) AS fr,
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('el','los','las','es','un','una','que','en'))) AS es,
        |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('o','os','as','um','uma','que','em','para'))) AS pt
        |    FROM documents) t)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(chars) AS DOUBLE) / count(*) AS mean_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM lang GROUP BY source ORDER BY source""".stripMargin,

    "text_lm_score" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END) AS bigram
        |  FROM words),
        |bic AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_bi FROM bi GROUP BY bigram),
        |uni AS (
        |  SELECT unnest(w) AS w1 FROM words),
        |unic AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_uni FROM uni GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM unic),
        |scored AS (
        |  SELECT bi.doc_id,
        |    ln((CAST(c_bi AS DOUBLE) + 0.5) / (CAST(c_uni AS DOUBLE) + 0.5 * (SELECT v_size FROM v))) AS logp
        |  FROM bi
        |  JOIN bic USING (bigram)
        |  JOIN unic ON string_split(bi.bigram, ' ')[1] = unic.w1),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, avg(logp) AS avg_logp
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(p.n_bigrams, 0) AS n_bigrams,
        |  round(p.avg_logp, 6) AS avg_logp
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "text_nb_quality" -> nbQualityOracleSql,

    // frozen-model streaming scoring is stateless across batches, so
    // the stream sink's union ≡ batch-scoring the union: the oracle IS
    // the batch gate's oracle, byte-for-byte
    "stream_nb_score" -> nbQualityOracleSql,

    // the doubled input collapses to the distinct event rows; event_id
    // is unique, so the survivor is the one original row either way
    "stream_dedup_events" ->
      """SELECT DISTINCT event_id, epoch_ns(ts) // 1000 AS ts_us,
        |  user_id, event_type, value
        |FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // deterministic survivor = min id per SIGNATURE group, one trigger
    // batch. The signature is the portable 60-bit md5 simhash, rebuilt
    // here bit-for-bit (the dedup_simhash oracle's vote fold), so
    // near-duplicate distinct texts that vote to the SAME signature
    // group identically in both engines. Degenerate (token-free) texts
    // pass through (none exist in this corpus; the branch is
    // MemoryStream-specced instead).
    "stream_dedup_content" -> streamDedupContentOracleSql,

    // Spark's window() is 1970-epoch-aligned: start = floor(us / 5min).
    // Alignment must FLOOR for pre-1970 (negative-µs) timestamps too:
    // DuckDB's % and // both follow the dividend toward zero, so plain
    // `us - us % P` (and `(us // P) * P`) would round a negative µs
    // toward zero — one window off Spark's floor. The floor-mod
    // `us - ((us % P) + P) % P` is exact in integer space for any sign.
    "stream_windowed_counts" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS us, event_type, value
        |  FROM events WHERE ts IS NOT NULL),
        |w AS (
        |  SELECT us - ((us % 300000000) + 300000000) % 300000000 AS ws,
        |    event_type, value FROM e)
        |SELECT ws AS window_start_us,
        |  ws + 300000000 AS window_end_us,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM w GROUP BY ws, event_type
        |ORDER BY window_start_us, event_type""".stripMargin,

    // classic lag/cumsum sessionization; >= gap starts a new session
    // (Spark session ends are exclusive), end = last event + gap
    "stream_sessionized" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |o AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 300000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT CAST(min(us) AS BIGINT) AS session_start_us,
        |  CAST(max(us) + 300000000 AS BIGINT) AS session_end_us,
        |  user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    // batch execution of flatMapGroupsWithState runs the state fn once
    // per key over all its rows — the emitted "running" total is the
    // final total, a plain aggregate in SQL
    "stream_running_totals" ->
      """SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 6) AS total_value
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |  AND value IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "text_bpe_merges" -> bpeMergesOracleSql,
    "text_bpe_tokens" -> bpeTokensOracleSql,

    "text_cms_counts" -> cmsCountsOracleSql,

    // the sketch's mergeability is exactness here: exactly-once
    // cell-summed per-batch sketches equal the batch sketch of the
    // union byte-for-byte, so the stream gate shares the batch oracle
    "stream_cms_counts" -> cmsCountsOracleSql,

    "text_ccnet_buckets" ->
      // the text_lm_score fold feeding the text_quantile_buckets fold:
      // same LM CTEs, scores negated + 6dp-rounded BEFORE the per-lang
      // quantile_cont thresholds (see the gate comment for why)
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END) AS bigram
        |  FROM words),
        |bic AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_bi FROM bi GROUP BY bigram),
        |uni AS (
        |  SELECT unnest(w) AS w1 FROM words),
        |unic AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_uni FROM uni GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM unic),
        |lmscored AS (
        |  SELECT bi.doc_id,
        |    ln((CAST(c_bi AS DOUBLE) + 0.5) / (CAST(c_uni AS DOUBLE) + 0.5 * (SELECT v_size FROM v))) AS logp
        |  FROM bi
        |  JOIN bic USING (bigram)
        |  JOIN unic ON string_split(bi.bigram, ' ')[1] = unic.w1),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, avg(logp) AS avg_logp
        |  FROM lmscored GROUP BY doc_id),
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(p.n_bigrams, 0) AS n_bigrams,
        |    round(-p.avg_logp, 6) AS score
        |  FROM documents d LEFT JOIN per_doc p USING (doc_id)),
        |th AS (
        |  SELECT lang,
        |    quantile_cont(score, 1.0/3) AS q1,
        |    quantile_cont(score, 2.0/3) AS q2
        |  FROM sc GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.n_bigrams, s.score,
        |  CASE WHEN s.score IS NULL THEN NULL
        |       WHEN s.score <= t.q1 THEN 'head'
        |       WHEN s.score <= t.q2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  coalesce(s.score <= t.q2, FALSE) AS keep
        |FROM sc s JOIN th t USING (lang)
        |ORDER BY s.doc_id""".stripMargin,

    "text_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('spark', 'vector', 'hash'))) AS BIGINT) AS n_blocked
        |FROM documents ORDER BY doc_id""".stripMargin,

    // concat_ws skips NULL args (and yields '' when all are NULL) —
    // same semantics as Spark's array_join(array_compact(...))
    "text_quality_policy" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    coalesce(CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT), 0) AS toks,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS nonws,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    concat_ws(',',
        |      CASE WHEN toks < 50 THEN 'too_few_tokens' END,
        |      CASE WHEN toks > 100000 THEN 'too_many_tokens' END,
        |      CASE WHEN toks > 0 AND (CAST(nonws AS DOUBLE) / toks < 2.0
        |             OR CAST(nonws AS DOUBLE) / toks > 12.0) THEN 'mean_token_len' END,
        |      CASE WHEN (CASE WHEN len(w) = 0 THEN CAST(0 AS DOUBLE)
        |                   ELSE CAST(1 AS DOUBLE) - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END) > 0.9
        |        THEN 'dup_word_frac' END,
        |      CASE WHEN n_chars > 0 AND CAST(alpha AS DOUBLE) / n_chars < 0.6 THEN 'alpha_ratio' END) AS violations
        |  FROM sig)
        |SELECT doc_id, CAST(violations = '' AS INT) AS keep, violations
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    concat(coalesce(text, ''), chr(10), 'standard footer - all rights reserved',
        |      chr(10), 'doc ', CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM d),
        |common AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM ln) t
        |  GROUP BY line HAVING count(*) >= 10),
        |kept AS (
        |  SELECT ln.doc_id, ln.pos, ln.line
        |  FROM ln LEFT JOIN common c ON ln.line = c.line
        |  WHERE c.line IS NULL),
        |agg AS (
        |  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // all synthesized variants normalize to https://corpus.example.com/p/N,
    // so the oracle needs no regex at all — normalization correctness is
    // exactly what the group counts prove
    "dedup_paragraph" ->
      // first occurrence = lexicographic min (doc_id, pos), derived in
      // two steps (min doc per para, then min pos within that doc);
      // parallel unnest zips (pos, para)
      """WITH d AS (
        |  SELECT doc_id,
        |    concat(coalesce(text, ''), chr(10), chr(10), 'shared corpus footer',
        |      chr(10), chr(10), 'doc tail ', CAST(doc_id % 20 AS VARCHAR)) AS text
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id,
        |    unnest(range(len(sp))) AS pos,
        |    unnest(sp) AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS sp FROM d)),
        |fdoc AS (SELECT para, min(doc_id) AS fd FROM paras GROUP BY para),
        |fpos AS (
        |  SELECT p.para, f.fd, min(p.pos) AS fp
        |  FROM paras p JOIN fdoc f ON p.para = f.para AND p.doc_id = f.fd
        |  GROUP BY p.para, f.fd),
        |k AS (
        |  SELECT p.doc_id, p.pos, p.para,
        |    (f.fd = p.doc_id AND f.fp = p.pos) AS keep
        |  FROM paras p JOIN fpos f ON p.para = f.para)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(coalesce(count(*) FILTER (keep), 0) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS text_dedup
        |FROM k GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "dedup_url" ->
      """SELECT concat('https://corpus.example.com/p/', CAST(doc_id % 50 AS VARCHAR)) AS url_norm,
        |  min(doc_id) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents
        |GROUP BY url_norm ORDER BY url_norm""".stripMargin,

    "url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    concat('HTTPS://WWW.', upper(source), '.Example.COM/p/',
        |      CAST(doc_id AS VARCHAR), '?utm_source=feed&id=',
        |      CAST(doc_id % 7 AS VARCHAR), '&utm_campaign=x#frag') AS url
        |  FROM documents),
        |s AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '', 'g') AS nofrag FROM u),
        |p AS (
        |  SELECT doc_id, nofrag,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS auth,
        |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+', '', 'g') AS rest
        |  FROM s),
        |hp AS (
        |  SELECT p.*, regexp_replace(auth, '^.*@', '', 'g') AS hostport FROM p),
        |q AS (
        |  SELECT doc_id, nofrag, scheme, auth,
        |    regexp_extract(hostport, '(:[0-9]+)$', 1) AS port,
        |    regexp_replace(regexp_replace(hostport, ':[0-9]*$', '', 'g'), '^www\.', '', 'g') AS host,
        |    regexp_replace(regexp_replace(regexp_replace(rest,
        |      '([?&])(utm_[A-Za-z0-9_]*=[^&#]*&)+', '\1', 'g'),
        |      '[?&]utm_[A-Za-z0-9_]*=[^&#]*(&utm_[A-Za-z0-9_]*=[^&#]*)*$', '', 'g'),
        |      '\?$', '', 'g') AS restclean
        |  FROM hp)
        |SELECT doc_id,
        |  CASE WHEN auth = '' THEN lower(nofrag)
        |    ELSE concat(scheme, '://', host, port, restclean) END AS url_norm,
        |  host
        |FROM q ORDER BY doc_id""".stripMargin,

    "q35_range_join" ->
      """WITH p AS (SELECT event_id % 2400 AS d FROM events),
        |iv AS (
        |  SELECT o_orderkey,
        |    datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS st
        |  FROM orders WHERE o_totalprice > 450000
        |)
        |SELECT iv.o_orderkey, count(*) AS n_events
        |FROM p JOIN iv ON p.d BETWEEN iv.st AND iv.st + 6
        |GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""".stripMargin,

    "stream_interval_join" ->
      // the 5-minute interval is 300000000 µs; both engines compare in
      // integer-µs space (events.parquet is TIMESTAMP(NANOS), floored)
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  c.us AS click_us, p.us AS purchase_us
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.us >= c.us AND p.us < c.us + 300000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_dedup_ingest" ->
      // greedy first-occurrence admission over ordered batches = global
      // min doc_id per text (batches are doc_id quartiles, so the first
      // batch containing a text also contains its smallest id)
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0
        |)
        |SELECT min(doc_id) AS doc_id, text FROM all_docs
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    "stream_semantic_ingest" ->
      // the 3-round sequential admission unrolled: round k admits docs
      // of batch k (doc_id % 3 = k) with no exact-Jaccard-≥0.5 partner
      // among prior rounds' ADMITTED docs or smaller-id same-batch
      // siblings. Pairing mirrors the dedup_minhash oracle (distinct
      // 2-word shingles over lowercased whitespace tokens, ≥3 words);
      // docs below 3 words never pair and are always admitted.
      """WITH w AS (
        |  SELECT doc_id, text, doc_id % 3 AS b,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |  FROM documents
        |), sets AS (
        |  SELECT doc_id, b, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM w WHERE len(words) >= 3
        |), pair AS (
        |  SELECT n.doc_id AS nid, o.doc_id AS oid, o.b AS ob
        |  FROM sets n, sets o
        |  WHERE o.doc_id != n.doc_id
        |    AND len(list_intersect(n.sh, o.sh))::DOUBLE /
        |        (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))) >= 0.5
        |), adm0 AS (
        |  SELECT doc_id FROM w x WHERE x.b = 0 AND NOT EXISTS (
        |    SELECT 1 FROM pair p WHERE p.nid = x.doc_id
        |      AND p.ob = 0 AND p.oid < x.doc_id)
        |), adm1 AS (
        |  SELECT doc_id FROM w x WHERE x.b = 1 AND NOT EXISTS (
        |    SELECT 1 FROM pair p WHERE p.nid = x.doc_id
        |      AND (p.oid IN (SELECT doc_id FROM adm0)
        |           OR (p.ob = 1 AND p.oid < x.doc_id)))
        |), adm2 AS (
        |  SELECT doc_id FROM w x WHERE x.b = 2 AND NOT EXISTS (
        |    SELECT 1 FROM pair p WHERE p.nid = x.doc_id
        |      AND (p.oid IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1)
        |           OR (p.ob = 2 AND p.oid < x.doc_id)))
        |)
        |SELECT d.doc_id, d.text FROM documents d
        |JOIN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1
        |      UNION ALL SELECT doc_id FROM adm2) a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "stream_upsert_snapshot" ->
      // final state of a latest-wins (max version per key) changeset
      // fold with tombstones: a key whose highest-version change is an
      // 'error' event is deleted; others keep that change's payload.
      // Versions (event_id) are unique, so the argmax is deterministic
      // and payloads pass through both engines untouched (no float math).
      """WITH c AS (
        |  SELECT event_id % 997 AS k, event_id AS v, value, event_type,
        |         (event_type = 'error') AS is_del
        |  FROM events WHERE event_id IS NOT NULL
        |), latest AS (SELECT k, max(v) AS v FROM c GROUP BY k)
        |SELECT c.k, c.v, c.value, c.event_type,
        |       FALSE AS rebucket_advised
        |FROM c JOIN latest ON c.k = latest.k AND c.v = latest.v
        |WHERE NOT c.is_del
        |ORDER BY c.k""".stripMargin,

    "stream_upsert_lookup" ->
      // the same latest-wins fold restricted to the looked-up key
      // subset — a key whose latest change is a tombstone (or that
      // never occurred) contributes no row
      """WITH c AS (
        |  SELECT event_id % 997 AS k, event_id AS v, value, event_type,
        |         (event_type = 'error') AS is_del
        |  FROM events WHERE event_id IS NOT NULL
        |), latest AS (SELECT k, max(v) AS v FROM c GROUP BY k)
        |SELECT c.k, c.v, c.value, c.event_type
        |FROM c JOIN latest ON c.k = latest.k AND c.v = latest.v
        |WHERE NOT c.is_del AND c.k % 7 = 3
        |ORDER BY c.k""".stripMargin,

    "q36_session_window" ->
      // gaps-and-islands in integer-µs space: a session breaks when the
      // gap to the previous event is >= 5 min (Spark's session windows
      // are [start, last+gap) — an event exactly at the boundary opens a
      // NEW session); session_end = last event + gap
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events
        |), marked AS (
        |  SELECT user_id, tus, value,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |         OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 300000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), sess AS (
        |  SELECT user_id, tus, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |)
        |SELECT min(tus) AS session_start, max(tus) + 300000000 AS session_end,
        |       user_id, count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q37_polars_strings" ->
      """SELECT doc_id,
        |  starts_with(text, 'key') AS sw,
        |  ends_with(source, '1') AS ew,
        |  strpos(text, 'spark') AS sp,
        |  split_part(text, ' ', 3) AS w3,
        |  left(text, 12) AS l12,
        |  reverse(lang) AS rl
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q38_polars_quantiles" ->
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS q25_qty,
        |  quantile_cont(l_quantity, 0.75) AS q75_qty,
        |  quantile_disc(l_extendedprice, 0.5) AS qd_price,
        |  round(stddev(l_quantity), 6) AS sd_qty,
        |  round(variance(l_quantity), 6) AS var_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q39_floordiv_regex" ->
      // `//` spelled as FLOOR of true division on both sides — DuckDB's
      // own `//` is also a floor division but the explicit form pins the
      // semantics this gate asserts
      """SELECT p_partkey,
        |  CAST(FLOOR(p_partkey / 10.0) AS BIGINT) AS k10,
        |  CAST(FLOOR((p_partkey * 3) / 7.0) AS BIGINT) AS k7,
        |  CAST(FLOOR((0 - p_partkey) / 7.0) AS BIGINT) AS kn7,
        |  regexp_matches(p_name, 'blue') AS m1,
        |  regexp_matches(p_name, 'BLUE', 'i') AS m2,
        |  NOT regexp_matches(p_name, '^s') AS m3
        |FROM part WHERE CAST(FLOOR(p_partkey / 100.0) AS BIGINT) = 5
        |ORDER BY p_partkey""".stripMargin,

    "q40_polars_arrays" ->
      """SELECT vec_id, alen, amax, amin, ROUND(CAST(x AS DOUBLE), 4) AS xv
        |FROM (
        |  SELECT vec_id,
        |    len(embedding) AS alen,
        |    ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS amax,
        |    ROUND(CAST(list_min(embedding) AS DOUBLE), 4) AS amin,
        |    UNNEST(embedding) AS x
        |  FROM embeddings WHERE vec_id < 20
        |) ORDER BY vec_id, xv""".stripMargin,

    "q41_strptime_roundtrip" ->
      """SELECT event_id,
        |  epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |                    '%Y-%m-%d %H:%M:%S')) AS t2us
        |FROM events ORDER BY event_id""".stripMargin,

    "q42_date_parts" ->
      """SELECT o_orderkey,
        |  CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
        |  CAST(date_part('quarter', o_orderdate) AS BIGINT) AS q,
        |  CAST(date_part('doy', o_orderdate) AS BIGINT) AS doy,
        |  CAST(date_part('isodow', o_orderdate) AS BIGINT) AS wd,
        |  epoch(CAST(o_orderdate AS TIMESTAMP)) AS ep,
        |  CAST(date_part('isodow', o_orderdate) AS BIGINT) AS wd2
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q43_polars_columns" ->
      // the COLUMNS expansion spelled out; DuckDB's own GROUP BY ALL /
      // ORDER BY ALL pin the same grouping and row order
      """SELECT l_returnflag,
        |  ROUND(SUM(l_quantity), 2) AS l_quantity,
        |  ROUND(SUM(l_extendedprice), 2) AS l_extendedprice,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q44_union_by_name" ->
      // DuckDB spells the by-name alignment and the array templates
      // out explicitly; small-int double arithmetic is exact in both
      """SELECT * FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS a,
        |    CAST(n_nationkey + n_regionkey AS DOUBLE) AS asum,
        |    (CAST(n_nationkey AS DOUBLE) + n_regionkey + 4) / 3 AS amean,
        |    CAST(n_regionkey AS BIGINT) AS aget
        |  FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS k, n_name AS a,
        |    NULL AS asum, NULL AS amean, NULL AS aget
        |  FROM nation WHERE n_regionkey = 0
        |) ORDER BY k, a""".stripMargin,

    "q45_similar_to" ->
      // the SIMILAR TO patterns hand-translated to the same anchored
      // regexes the rewriter emits (DuckDB's own SIMILAR TO is raw-regex
      // full-match, NOT SQL-wildcard — spelling the translation out keeps
      // the oracle independent of that deviation)
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_full_match(p_name, '.*(green|blue|red).*')
        |  AND NOT regexp_full_match(p_name, '.*w.dget')
        |ORDER BY p_partkey""".stripMargin,

    "q32_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2
        |), l AS (
        |  SELECT event_id, event_id % 1500 + 1 AS k,
        |    DATE '1995-01-01' + CAST(event_id % 2400 AS INTEGER) AS t
        |  FROM events
        |)
        |SELECT l.event_id, l.k, r.o_orderkey, CAST(r.od AS VARCHAR) AS od
        |FROM l ASOF LEFT JOIN r ON l.k = r.o_custkey AND l.t >= r.od
        |ORDER BY l.event_id""".stripMargin,

    "q31_subqueries" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.8)
        |ORDER BY c_custkey""".stripMargin,

    "q29_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS qty_a,
        |  round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS qty_n,
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q30_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS val FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "approx_distinct" ->
      """SELECT lang, count(DISTINCT doc_id) AS n_distinct, count(*) AS n_rows
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "mm_audio_dedup" ->
      """SELECT d1.doc_id AS id_a, d2.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |WHERE d1.doc_id % 2 = 0 AND d1.doc_id < 200 AND d2.doc_id < 200
        |ORDER BY id_a, id_b""".stripMargin,

    "mm_image_dedup" ->
      """SELECT d1.doc_id AS id_a, d2.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |WHERE d1.doc_id % 2 = 0 AND d1.doc_id < 200 AND d2.doc_id < 200
        |ORDER BY id_a, id_b""".stripMargin,

    "corpus_quantiles" ->
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.95) AS p95,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "merge_scd2" ->
      // the full validity chain in one window pass: valid_to = next
      // change's version regardless of its type (so a delete's version
      // closes its predecessor), delete rows themselves emit nothing
      """WITH c AS (
        |  SELECT event_id % 997 AS k, event_id AS v, value, event_type,
        |         (event_type = 'error') AS is_del
        |  FROM events WHERE event_id IS NOT NULL
        |), chained AS (
        |  SELECT k, v, value, event_type, is_del,
        |    lead(v) OVER (PARTITION BY k ORDER BY v) AS vto
        |  FROM c
        |)
        |SELECT k, value, event_type, v AS valid_from, vto AS valid_to
        |FROM chained WHERE NOT is_del
        |ORDER BY k, valid_from""".stripMargin,

    "merge_scd2_snapshot" ->
      """WITH c AS (
        |  SELECT event_id % 997 AS k, event_id AS v, value, event_type,
        |         (event_type = 'error') AS is_del
        |  FROM events WHERE event_id IS NOT NULL
        |), chained AS (
        |  SELECT k, v, value, event_type, is_del,
        |    lead(v) OVER (PARTITION BY k ORDER BY v) AS vto
        |  FROM c
        |)
        |SELECT k, value, event_type, v AS valid_from, vto AS valid_to
        |FROM chained
        |WHERE NOT is_del AND v <= 6979 AND (vto IS NULL OR vto > 6979)
        |ORDER BY k""".stripMargin,

    "merge_upsert" ->
      """WITH all_rows AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
        |         CAST(0 AS BIGINT) AS v, FALSE AS del, 0 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice * 1.5, CAST(1 AS BIGINT), FALSE, 1
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(2 AS BIGINT), TRUE, 1
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice, CAST(1 AS BIGINT), FALSE, 1
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC, src DESC) AS rn
        |  FROM all_rows)
        |SELECT k, status, price, v FROM ranked WHERE rn = 1 AND NOT del
        |ORDER BY k""".stripMargin,

    "merge_diff" ->
      """WITH old_snap AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
        |         CAST(0 AS BIGINT) AS v FROM orders),
        |new_snap AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.5 ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 7 = 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS v
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice, CAST(1 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 17 = 0)
        |SELECT COALESCE(o.k, n.k) AS k,
        |  COALESCE(n.status, o.status) AS status,
        |  COALESCE(n.price, o.price) AS price,
        |  COALESCE(n.v, o.v) AS v,
        |  n.k IS NULL AS is_deleted
        |FROM old_snap o FULL OUTER JOIN new_snap n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL
        |   OR o.status IS DISTINCT FROM n.status
        |   OR o.price IS DISTINCT FROM n.price
        |   OR o.v IS DISTINCT FROM n.v
        |ORDER BY k""".stripMargin,

    "split_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (ascii(substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 1)) * 10007
        |     + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 2, 1)) * 131
        |     + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '#sample'), 3, 1))) % 100 <
        |  CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 60 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    "text_unicode_nfc" ->
      """SELECT doc_id,
        |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)) AS norm_text,
        |  CAST(length(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778))) AS BIGINT) AS n_chars_norm,
        |  CAST(length(text || ' cafe' || chr(769) || ' A' || chr(778)) AS BIGINT) AS n_chars_raw
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quantile_buckets" ->
      """WITH th AS (
        |  SELECT lang,
        |    quantile_cont(n_chars, 1.0/3) AS q1,
        |    quantile_cont(n_chars, 2.0/3) AS q2
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN d.n_chars <= t.q1 THEN 'head'
        |       WHEN d.n_chars <= t.q2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM documents d JOIN th t USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "mix_weights" ->
      """WITH n AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE lang IN ('de','en','fr') GROUP BY lang),
        |t AS (SELECT min(n::DOUBLE /
        |        CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.3 ELSE 0.2 END) AS t FROM n),
        |cut AS (
        |  SELECT lang,
        |    CAST(floor(((CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.3 ELSE 0.2 END * t.t)
        |                / n::DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS cut
        |  FROM n CROSS JOIN t),
        |keyed AS (
        |  SELECT doc_id, lang,
        |    md5(CAST(doc_id AS VARCHAR) || '#mix0') AS h
        |  FROM documents WHERE lang IN ('de','en','fr')),
        |bucketed AS (
        |  SELECT doc_id, lang,
        |    ((((((ascii(substr(h,1,1)) - CASE WHEN ascii(substr(h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16
        |       + (ascii(substr(h,2,1)) - CASE WHEN ascii(substr(h,2,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,3,1)) - CASE WHEN ascii(substr(h,3,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,4,1)) - CASE WHEN ascii(substr(h,4,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,5,1)) - CASE WHEN ascii(substr(h,5,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,6,1)) - CASE WHEN ascii(substr(h,6,1)) >= 97 THEN 87 ELSE 48 END)
        |    ) % 1048576 AS bucket
        |  FROM keyed)
        |SELECT b.doc_id, b.lang, CAST(0 AS BIGINT) AS copy
        |FROM bucketed b JOIN cut c USING (lang)
        |WHERE b.bucket < c.cut
        |ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      // the fine-bucket draw via the compact hex cast (value-identical
      // to the ascii fold: first 6 md5 hex digits mod 2^20)
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws'), 1, 6))::BIGINT % 1048576) + 0.5) / 1048576.0)
        |      / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0.0),
        |ranked AS (
        |  SELECT doc_id, n_chars, es_key,
        |    CAST(row_number() OVER (ORDER BY round(es_key, 9) DESC, doc_id) AS BIGINT) AS rank
        |  FROM keyed)
        |SELECT doc_id, n_chars, round(es_key, 9) AS es_key, rank
        |FROM ranked WHERE rank <= 40
        |ORDER BY rank""".stripMargin,

    "split_k_per_group" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#kpg'), doc_id) AS BIGINT) AS rank
        |  FROM documents)
        |SELECT doc_id, lang, rank FROM ranked
        |WHERE rank <= 25
        |ORDER BY doc_id""".stripMargin,

    "sample_dsir" ->
      // full DSIR replay: hashed unigram+bigram features (md5 6-hex
      // fold mod 256 — the mix_weights bucket idiom), add-1 smoothed
      // log-likelihood ratios over the complete bucket domain,
      // deterministic Gumbel noise from the same fold mod 2^20
      """WITH salted AS (
        |  SELECT doc_id,
        |    concat(coalesce(text, ''),
        |      CASE WHEN doc_id % 2 = 0 THEN ' clean curated reference'
        |           ELSE ' spamword clickbait' END) AS text
        |  FROM documents),
        |words_r AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM salted),
        |feats_r AS (
        |  SELECT doc_id, md5(unnest(w ||
        |    CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END)) AS h
        |  FROM words_r),
        |fb_r AS (
        |  SELECT doc_id,
        |    ((((((ascii(substr(h,1,1)) - CASE WHEN ascii(substr(h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16
        |       + (ascii(substr(h,2,1)) - CASE WHEN ascii(substr(h,2,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,3,1)) - CASE WHEN ascii(substr(h,3,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,4,1)) - CASE WHEN ascii(substr(h,4,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,5,1)) - CASE WHEN ascii(substr(h,5,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |       + (ascii(substr(h,6,1)) - CASE WHEN ascii(substr(h,6,1)) >= 97 THEN 87 ELSE 48 END)
        |    ) % 256 AS bucket
        |  FROM feats_r),
        |fb_t AS (
        |  SELECT bucket FROM fb_r
        |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 0),
        |cp AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_p FROM fb_t GROUP BY bucket),
        |cq AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_q FROM fb_r GROUP BY bucket),
        |tot AS (
        |  SELECT (SELECT coalesce(CAST(sum(c_p) AS DOUBLE), 0.0) FROM cp) AS t_p,
        |         (SELECT coalesce(CAST(sum(c_q) AS DOUBLE), 0.0) FROM cq) AS t_q),
        |model AS (
        |  SELECT r.range AS bucket,
        |    ln((CAST(coalesce(c_p, 0) AS DOUBLE) + 1.0) / (t_p + 1.0 * 256.0)) -
        |    ln((CAST(coalesce(c_q, 0) AS DOUBLE) + 1.0) / (t_q + 1.0 * 256.0)) AS llr
        |  FROM range(256) r
        |  LEFT JOIN cp ON cp.bucket = r.range
        |  LEFT JOIN cq ON cq.bucket = r.range
        |  CROSS JOIN tot),
        |perdoc AS (
        |  SELECT s.doc_id,
        |    CAST(count(fb.bucket) AS BIGINT) AS n_features,
        |    coalesce(sum(m.llr), 0.0) AS log_w
        |  FROM salted s
        |  LEFT JOIN fb_r fb USING (doc_id)
        |  LEFT JOIN model m ON m.bucket = fb.bucket
        |  GROUP BY s.doc_id),
        |noise AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#dsir') AS h
        |  FROM perdoc),
        |keyed AS (
        |  SELECT p.doc_id, p.n_features, p.log_w,
        |    p.log_w - ln(-ln(
        |      ((((((((ascii(substr(n.h,1,1)) - CASE WHEN ascii(substr(n.h,1,1)) >= 97 THEN 87 ELSE 48 END) * 16
        |         + (ascii(substr(n.h,2,1)) - CASE WHEN ascii(substr(n.h,2,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |         + (ascii(substr(n.h,3,1)) - CASE WHEN ascii(substr(n.h,3,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |         + (ascii(substr(n.h,4,1)) - CASE WHEN ascii(substr(n.h,4,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |         + (ascii(substr(n.h,5,1)) - CASE WHEN ascii(substr(n.h,5,1)) >= 97 THEN 87 ELSE 48 END)) * 16
        |         + (ascii(substr(n.h,6,1)) - CASE WHEN ascii(substr(n.h,6,1)) >= 97 THEN 87 ELSE 48 END)
        |      ) % 1048576) + 0.5) / 1048576.0)) AS gumbel_key
        |  FROM perdoc p JOIN noise n USING (doc_id)),
        |ranked AS (
        |  SELECT doc_id, n_features, log_w, gumbel_key,
        |    CAST(row_number() OVER (ORDER BY round(gumbel_key, 6) DESC, doc_id) AS BIGINT) AS rank
        |  FROM keyed)
        |SELECT doc_id, n_features, round(log_w, 6) AS log_w,
        |  round(gumbel_key, 6) AS gumbel_key, rank
        |FROM ranked WHERE rank <= 50
        |ORDER BY rank""".stripMargin,

    "sample_token_budget" ->
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#budget'), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM c WHERE cum <= 100000
        |ORDER BY doc_id""".stripMargin,

    "split_hash" ->
      """SELECT doc_id, lang,
        |  CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 10007
        |           + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 131
        |           + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1))) % 100 < 80
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "skew_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_orderstatus
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey % 10 = 0
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    "pack_nextfit" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(ceil(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 2048.0) AS BIGINT) - 1 AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, CAST(unnest(range(0, octet_length(CAST(text AS BLOB)), 100)) AS BIGINT) AS frame_offset
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_id, frame_offset""".stripMargin,

    "pipeline_e2e" ->
      """SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid,
        |  l_orderkey, l_linenumber,
        |  CAST(replace(CAST(l_partkey AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR), ',', '.') AS DOUBLE) AS euro,
        |  CASE WHEN l_linenumber % 2 = 0 THEN NULL ELSE l_returnflag END AS marked
        |FROM lineitem WHERE l_linenumber <= 4
        |ORDER BY rid""".stripMargin,

    "mm_decode" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) % 640 AS width,
        |  (octet_length(CAST(text AS BLOB)) * 7) % 480 AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  octet_length(CAST(text AS BLOB)) AS nBytes,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_resize" ->
      // stub-resize passthrough: fixed target dims, format from the
      // stub's length-parity rule (payload bytes not emitted)
      """SELECT doc_id,
        |  CAST(64 AS BIGINT) AS width,
        |  CAST(48 AS BIGINT) AS height,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_decode_real" ->
      """SELECT doc_id,
        |  1 + doc_id % 16 AS width,
        |  1 + doc_id % 12 AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  'png' AS format
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 500)
        |ORDER BY doc_id""".stripMargin,

    "mm_resize_real" ->
      """SELECT doc_id,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(6 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  'png' AS format
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 500)
        |ORDER BY doc_id""".stripMargin,

    "ann_ivf_kmeans_topk" -> annBruteOracleSql,
    "ann_pq_topk" -> annBruteOracleSql,
    "ann_ivf_index_topk" -> annBruteOracleSql,
    // + the append gate's advisor column: the gate's even/odd split is
    // a balanced same-distribution append (fraction ≤ 0.5, skew ≈
    // as-built), so a healthy advisor is deterministically false
    "ann_ivf_index_append" ->
      annBruteOracleSql.replace(
        "SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine",
        "SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine, FALSE AS rebuild_advised"),
    "ann_ivf_index_compact" -> annBruteOracleSql,
    "ann_ivfpq_index_append" -> annBruteOracleSql,
    "ann_ivfpq_topk" -> annBruteOracleSql,
    "ann_ivfpq_index_topk" -> annBruteOracleSql,

    "io_csv_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_extendedprice""".stripMargin,

    "io_csv_euro_roundtrip" ->
      """SELECT l_orderkey, l_returnflag, l_extendedprice
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_orderkey, l_returnflag, l_extendedprice""".stripMargin,

    "io_csv_lossy_roundtrip" ->
      // the damaged appended row decodes its malformed byte to exactly
      // one U+FFFD = chr(65533); every clean row survives byte-identical
      """SELECT l_orderkey, l_returnflag, l_extendedprice
        |FROM lineitem WHERE l_linenumber = 1 AND l_orderkey <= 20000
        |UNION ALL
        |SELECT 90000001, 'Z' || chr(65533) || 'Z', 1.5
        |ORDER BY l_orderkey, l_returnflag, l_extendedprice""".stripMargin,

    "io_ndjson_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "io_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "io_sorted_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS od
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    // per-example (rows, cols) for the 22 generated templates over the
    // orders schema. Star modifiers (EXCEPT/RENAME/REPLACE) never change
    // row counts, so each branch reduces to the template's FILTER/GROUP
    // semantics; column counts are schema facts. Kept in generator
    // order — regenerate alongside Introspect.sqlExamples.
    "m3_examples" ->
      """WITH n AS (SELECT count(*) AS c FROM orders)
        |SELECT * FROM (
        |  SELECT 0 AS ex, c AS nrows, 6 AS ncols FROM n            -- SELECT *
        |  UNION ALL SELECT 1, LEAST(c, 50), 6 FROM n                -- LIMIT 50
        |  UNION ALL SELECT 2, c, 2 FROM n                           -- named cols
        |  UNION ALL SELECT 3, c, 4 FROM n                           -- * EXCEPT(2)
        |  UNION ALL SELECT 4, c, 6 FROM n                           -- * RENAME(2)
        |  UNION ALL SELECT 5, c, 6 FROM n                           -- * REPLACE round
        |  UNION ALL SELECT 6, c, 6 FROM n                           -- * REPLACE case
        |  UNION ALL SELECT 7, c, 8 FROM n                           -- computed cols
        |  UNION ALL SELECT 8, c, 5 FROM n                           -- EXCEPT+REPLACE+RENAME
        |  UNION ALL SELECT 9, c, 2 FROM n                           -- CAST to float
        |  UNION ALL SELECT 10, c, 7 FROM n                          -- CASE category
        |  UNION ALL SELECT 11,
        |    (SELECT count(*) FROM orders WHERE o_orderkey IS NOT NULL), 6
        |  UNION ALL SELECT 12,
        |    (SELECT count(*) FROM orders WHERE o_orderkey >= 10), 6
        |  UNION ALL SELECT 13,
        |    (SELECT count(*) FROM orders WHERE o_orderstatus ILIKE '%a%'), 6
        |  UNION ALL SELECT 14,
        |    (SELECT count(*) FROM orders
        |     WHERE (o_orderkey BETWEEN 1 AND 1000)
        |       AND o_orderstatus IS NOT NULL), 6
        |  UNION ALL SELECT 15, c, 6 FROM n                          -- ORDER BY
        |  UNION ALL SELECT 16,
        |    (SELECT count(DISTINCT o_orderdate) FROM orders), 3     -- count per group
        |  UNION ALL SELECT 17,
        |    (SELECT count(DISTINCT o_orderstatus) FROM orders), 2   -- sum per group
        |  UNION ALL SELECT 18,
        |    (SELECT count(DISTINCT o_orderstatus) FROM orders), 5   -- multi-agg
        |  UNION ALL SELECT 19,
        |    (SELECT count(*) FROM (SELECT o_orderstatus FROM orders
        |      GROUP BY o_orderstatus HAVING AVG(o_orderkey) > 0)), 2 -- HAVING alias
        |  UNION ALL SELECT 20, c, 2 FROM n                          -- STRFTIME
        |  UNION ALL SELECT 21,
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey, o_orderstatus
        |      FROM orders)), 2                                      -- DISTINCT
        |) ORDER BY ex""".stripMargin,

    "corpus_q1" -> s"""$corpusCte
      |SELECT * FROM AllData ORDER BY $corpusOrd""".stripMargin,

    "corpus_q2" -> s"""$corpusCte
      |SELECT
      |  "Ano do Período de Apuração", "Trimestre do Período de Apuração",
      |  "Mês do Período de Apuração", "Tipo de Crédito",
      |  "Natureza da Base de Cálculo dos Créditos",
      |  "Valor da Base de Cálculo das Contribuições",
      |  "Crédito vinculado à Receita Bruta Não Cumulativa: Tributada",
      |  "Crédito vinculado à Receita Bruta Não Cumulativa: Não Tributada",
      |  "Crédito vinculado à Receita Bruta Não Cumulativa: de Exportação",
      |  "Crédito vinculado à Receita Bruta Total"
      |FROM AllData
      |WHERE "Ano do Período de Apuração" = 2024
      |  AND "Mês do Período de Apuração" LIKE 'dez%'
      |ORDER BY $corpusOrd""".stripMargin,

    "corpus_q3" -> s"""$corpusCte
      |SELECT * EXCLUDE (
      |    "Crédito vinculado à Receita Bruta Total",
      |    "Crédito vinculado à Receita Bruta Não Cumulativa",
      |    "Mês do Período de Apuração")
      |FROM AllData
      |WHERE "Ano do Período de Apuração" = 2024
      |  AND "Trimestre do Período de Apuração" = 4
      |  AND "Mês do Período de Apuração" LIKE '%dez%'
      |ORDER BY $corpusOrd""".stripMargin,

    "corpus_q4" -> s"""$corpusCte
      |SELECT *, substr("Período Apuração Crédito", 14, 4) AS Ano
      |FROM AllData
      |WHERE substr("Período Apuração Crédito", 14, 4) = '2019'
      |ORDER BY $corpusOrd""".stripMargin,

    "corpus_q5" -> s"""$corpusCte
      |SELECT * FROM AllData
      |WHERE "Natureza da Base de Cálculo dos Créditos" IS NOT NULL
      |  AND "Tipo de Operação" ILIKE '%entrada%'
      |  AND "Código de Situação Tributária (CST)" BETWEEN 50 AND 66
      |ORDER BY $corpusOrd""".stripMargin,

    "corpus_q6" -> s"""$corpusCte,
      |DadosComAno AS (
      |  SELECT *,
      |    CAST(substr("Período Apuração Crédito", 14, 4) AS INTEGER) AS Ano
      |  FROM AllData
      |)
      |SELECT * EXCLUDE (
      |    "Valor Total Crédito", "Valor Crédito Data Transmissão",
      |    "PER/DCOMP", "Período Apuração Crédito"),
      |  substr("Período Apuração Crédito", 1, 12) AS "Período Apuração Crédito",
      |  "PER/DCOMP" AS "Pedido de Ressarcimento (PER)"
      |FROM DadosComAno
      |WHERE Ano >= 2019
      |ORDER BY $corpusOrd""".stripMargin,

    "io_zorder_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS sd
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-07-01'
        |  AND l_partkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "io_bucketed_roundtrip" ->
      """SELECT c_nationkey, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "io_compact_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "io_json_array_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "io_sql_table_fns" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n.n_nationkey""".stripMargin,

    // cosine in DuckDB must be spelled as the explicit double-precision
    // left-to-right fold — verified bit-identical to Spark's aggregate()
    // (list_cosine_similarity computes in float32 and does NOT match)
    "ann_brute_topk" -> annBruteOracleSql,

    "ann_jl_topk" ->
      // replay the JL matrix (low bit of md5's first hex digit → ±1),
      // the projection fold, cosine, and the 6dp-rounded rank
      """WITH proj AS (
        |  SELECT e.vec_id,
        |    list_transform(range(16), k ->
        |      list_sum(list_transform(range(64), i ->
        |        CAST(e.embedding[i + 1] AS DOUBLE) *
        |        CAST(((('0x' || substr(md5('rp#rp#' || CAST(i AS VARCHAR) || '#' || CAST(k AS VARCHAR)), 1, 1))::BIGINT % 2) * 2 - 1) AS DOUBLE)))
        |      * (1.0 / sqrt(16.0))) AS p
        |  FROM embeddings e),
        |q AS (SELECT vec_id, p FROM proj WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(c.p, q.p), z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(c.p, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.p, x -> x * x)))) AS cos_raw
        |  FROM proj c, q WHERE c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    row_number() OVER (PARTITION BY query_id ORDER BY round(cos_raw, 6) DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "dedup_embedding" ->
      """WITH capped AS (
        |  SELECT * FROM embeddings
        |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 2000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cosine
        |FROM capped a, capped b
        |WHERE a.vec_id < b.vec_id
        |  AND list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |       sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_semantic" ->
      """WITH capped AS (
        |  SELECT * FROM embeddings
        |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 1500)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cosine
        |FROM capped a, capped b
        |WHERE a.vec_id < b.vec_id
        |  AND list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |       sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |        FROM documents) t
        |  WHERE len(words) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sets a, sets b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    // exact all-pairs Jaccard at the verify threshold — legal oracle for
    // the LSH-candidates+exact-verify query because precision is 1.0 by
    // construction and the banding config drives recall to ~1 at J>=0.5
    "dedup_incremental" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |        FROM documents) t
        |  WHERE len(words) >= 3)
        |SELECT n.doc_id AS id_new, o.doc_id AS id_other,
        |  (o.doc_id % 5 != 0) AS other_in_corpus,
        |  round(len(list_intersect(n.sh, o.sh))::DOUBLE /
        |        (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))), 4) AS jaccard
        |FROM sets n, sets o
        |WHERE n.doc_id % 5 = 0
        |  AND (o.doc_id % 5 != 0 OR o.doc_id < n.doc_id)
        |  AND o.doc_id != n.doc_id
        |  AND len(list_intersect(n.sh, o.sh))::DOUBLE /
        |      (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))) >= 0.5
        |ORDER BY id_new, id_other""".stripMargin,

    // identical oracle as dedup_minhash: the salted plan must produce
    // byte-identical pairs
    "dedup_minhash_salted" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |        FROM documents) t
        |  WHERE len(words) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sets a, sets b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash" ->
      """WITH sets AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |        FROM documents) t
        |  WHERE len(words) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sets a, sets b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // bit-for-bit replica of the portable 60-bit md5 simhash: same token
    // split, same per-bit majority vote, hamming via bit_count(xor)
    "dedup_simhash" -> simhashOracleSql,

    // the emitted rows are the exact ranking (IVF recall is asserted
    // in-query, see the Spark side) — identical to the brute oracle
    "ann_ivf_centroid_topk" -> annBruteOracleSql,

    "ann_ivf_topk" -> annBruteOracleSql,

    // full recomputation of the leakage-safe assignment: exact-verified
    // pairs (J >= 0.5), min-id component by recursive reachability, then
    // the same md5 percentage bucket on the representative
    "split_leakage_safe" ->
      """WITH RECURSIVE sets AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS words
        |        FROM documents) t
        |  WHERE len(words) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sets a, sets b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
        |rep AS (SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id)
        |SELECT doc.doc_id, doc.lang,
        |  CASE WHEN (ascii(substr(md5(CAST(coalesce(rep.rep, doc.doc_id) AS VARCHAR)), 1, 1)) * 10007
        |           + ascii(substr(md5(CAST(coalesce(rep.rep, doc.doc_id) AS VARCHAR)), 2, 1)) * 131
        |           + ascii(substr(md5(CAST(coalesce(rep.rep, doc.doc_id) AS VARCHAR)), 3, 1))) % 100 < 80
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM documents doc LEFT JOIN rep ON doc.doc_id = rep.id
        |ORDER BY doc_id""".stripMargin
  )

  /** The exact brute-force cosine top-10 ranking in DuckDB — the shared
    * oracle for ann_brute_topk AND both approximate-ANN gates (each gate
    * emits this exact ranking and asserts its variant's recall
    * in-query). One definition: the cosine spelling (explicit ::DOUBLE
    * fold, NOT float32 list_cosine_similarity) and the tie-break
    * (cos DESC, neighbor_id) must never drift between the three. */
  private val annBruteOracleSql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(c.embedding, q.embedding), p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos_raw
        |  FROM embeddings c, q WHERE c.vec_id != q.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of the portable md5-based 60-bit simhash used by the
    * dedup_simhash gate query: one vote aggregate per bit, generated
    * programmatically. */
  /** The unrolled-BPE CTE chain shared by both bpe oracles: w0 is the
    * word-type collapse, then per round r: p_r (pair counts), b_r
    * (argmax merge), w_r (words after the merge). Generated
    * programmatically like [[simhashOracleSql]] — the rounds are
    * mechanical and the round count must match the gate's numMerges. */
  private def bpeRoundsSql(n: Int): String = {
    // every CTE is MATERIALIZED: each round references the previous
    // ~3×, and DuckDB's default CTE inlining would re-evaluate the
    // chain 3^n times (measured: the inlined 8-round oracle did not
    // finish in 9 minutes at sf0.01; materialized it is sub-second).
    // The argmax rides a CROSS JOIN (1 row), never a correlated
    // scalar subquery inside a per-row expression.
    // the padded-double-space representation (" x  y  z "): a merge's
    // literal pattern ' x  y ' can only align to WHOLE symbols — every
    // symbol is space-flanked, and each match consumes one space from
    // each side's double run, so neighbouring boundaries survive.
    // Plain replace() (left-to-right non-overlapping) then equals the
    // symbol-list greedy merge exactly — boundary-safe with no
    // lookaround (which RE2 engines lack).
    val w0 =
      raw"""w0 AS MATERIALIZED (
           |  SELECT ' ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || ' ' AS word,
           |         CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           |        FROM documents)
           |  GROUP BY 1)""".stripMargin
    val rounds = (1 to n).map { r =>
      raw"""p$r AS MATERIALIZED (
           |  SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(CASE WHEN len(sy) < 2 THEN CAST([] AS VARCHAR[])
           |      ELSE list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j + 1]) END) AS pr, freq
           |    FROM (SELECT string_split(trim(word), '  ') AS sy, freq FROM w${r - 1}))
           |  GROUP BY pr),
           |b$r AS MATERIALIZED (SELECT pr, cnt FROM p$r ORDER BY cnt DESC, pr LIMIT 1),
           |w$r AS MATERIALIZED (
           |  SELECT word, CAST(sum(freq) AS BIGINT) AS freq FROM (
           |    SELECT replace(word, ' ' || replace(b.pr, ' ', '  ') || ' ', ' ' || replace(b.pr, ' ', '') || ' ') AS word, freq
           |    FROM w${r - 1} CROSS JOIN b$r b)
           |  GROUP BY word)""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  /** Number of merges both bpe gates train — oracle rounds must match. */
  private val BpeGateMerges = 8

  /** Shared oracle for the NB quality classifier gates: identical NB
    * fold (exact integer counts -> ln ratios; the vocab cap's
    * (total DESC, term ASC) order is total in both engines — ASCII
    * terms, binary collation). Used verbatim by BOTH `text_nb_quality`
    * (batch train+score) and `stream_nb_score` (frozen-model
    * micro-batch scoring): stateless scoring makes the stream union ≡
    * the batch score of the union. */
  private val nbQualityOracleSql: String =
    """WITH salted AS (
        |  SELECT doc_id,
        |    concat(coalesce(text, ''),
        |      CASE WHEN doc_id % 2 = 0 THEN ' clean curated reference'
        |           ELSE ' spamword clickbait' END) AS text,
        |    (doc_id % 2 = 0) AS label
        |  FROM documents),
        |train AS (
        |  SELECT doc_id, text, label
        |  FROM salted WHERE doc_id % 3 <> 0),
        |toks AS (
        |  SELECT label,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM train),
        |counts AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM toks GROUP BY term),
        |vocab AS (
        |  SELECT * FROM counts ORDER BY (c_pos + c_neg) DESC, term LIMIT 35),
        |totals AS (
        |  SELECT coalesce(CAST(sum(c_pos) AS DOUBLE), 0.0) AS t_pos,
        |         coalesce(CAST(sum(c_neg) AS DOUBLE), 0.0) AS t_neg,
        |         CAST(count(*) AS DOUBLE) AS v_size
        |  FROM vocab),
        |model AS (
        |  SELECT term,
        |    ln((CAST(c_pos AS DOUBLE) + 1.0) / (t_pos + 1.0 * (v_size + 1.0))) -
        |    ln((CAST(c_neg AS DOUBLE) + 1.0) / (t_neg + 1.0 * (v_size + 1.0))) AS lp_diff
        |  FROM vocab CROSS JOIN totals),
        |konst AS (
        |  SELECT
        |    ln(1.0 / (t_pos + 1.0 * (v_size + 1.0))) -
        |      ln(1.0 / (t_neg + 1.0 * (v_size + 1.0))) AS lp_oov_diff,
        |    (SELECT ln(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |          - ln(CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |     FROM train) AS lp_prior_diff
        |  FROM totals),
        |score AS (SELECT doc_id, text FROM salted WHERE doc_id % 3 = 0),
        |stoks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM score),
        |perdoc AS (
        |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    sum(coalesce(m.lp_diff, k.lp_oov_diff)) AS sum_lp
        |  FROM stoks s
        |  LEFT JOIN model m USING (term)
        |  CROSS JOIN konst k
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  coalesce(p.n_tokens, 0) AS n_tokens,
        |  round(coalesce(p.sum_lp, 0.0) + k.lp_prior_diff, 6) AS logit,
        |  (coalesce(p.sum_lp, 0.0) + k.lp_prior_diff) > 0.0 AS keep
        |FROM score d
        |LEFT JOIN perdoc p USING (doc_id)
        |CROSS JOIN konst k
        |ORDER BY doc_id""".stripMargin

  /** Shared oracle for the count–min gates: row r's cell =
    * int(md5(term#cms) hex digits [6r+1, 6r+6]) % 64 — the compact
    * 0x-cast form of the shared md5HexFoldAt windows. Used verbatim by
    * BOTH `text_cms_counts` (batch sketch) and `stream_cms_counts`
    * (exactly-once cell-summed micro-batch accumulation): mergeability
    * makes the stream state ≡ the batch sketch of the union. */
  private val cmsCountsOracleSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |cells AS (
      |  SELECT r.range AS row,
      |    ('0x' || substr(md5(term || '#cms'), 1 + 6 * CAST(r.range AS INT), 6))::BIGINT % 64 AS bucket
      |  FROM toks CROSS JOIN range(4) r),
      |sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
      |truth AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY term),
      |top AS (SELECT term, true_cnt FROM truth ORDER BY true_cnt DESC, term LIMIT 20),
      |pc AS (
      |  SELECT t.term, r.range AS row,
      |    ('0x' || substr(md5(t.term || '#cms'), 1 + 6 * CAST(r.range AS INT), 6))::BIGINT % 64 AS bucket
      |  FROM top t CROSS JOIN range(4) r),
      |est AS (
      |  SELECT term, min(coalesce(s.cnt, 0)) AS est
      |  FROM pc LEFT JOIN sk s USING (row, bucket)
      |  GROUP BY term)
      |SELECT t.term, e.est, t.true_cnt
      |FROM top t JOIN est e USING (term)
      |ORDER BY t.term""".stripMargin

  private def bpeMergesOracleSql: String = {
    val rows = (1 to BpeGateMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, pr AS pair, replace(pr, ' ', '') AS merged, cnt FROM b$r")
    s"WITH ${bpeRoundsSql(BpeGateMerges)}\n" +
      rows.mkString("", "\nUNION ALL ", "\nORDER BY rank")
  }

  private def bpeTokensOracleSql: String = {
    val applies = (1 to BpeGateMerges).map(r =>
      raw"""a$r AS MATERIALIZED (
           |  SELECT doc_id, list_transform(sws, w ->
           |    replace(w, ' ' || replace(b.pr, ' ', '  ') || ' ', ' ' || replace(b.pr, ' ', '') || ' ')) AS sws
           |  FROM a${r - 1} CROSS JOIN b$r b)""".stripMargin).mkString(",\n")
    raw"""WITH ${bpeRoundsSql(BpeGateMerges)},
         |docs_s AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws
         |  FROM documents WHERE doc_id % 7 = 0),
         |a0 AS MATERIALIZED (
         |  SELECT doc_id, list_transform(ws, w ->
         |    ' ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || ' ') AS sws
         |  FROM docs_s),
         |$applies,
         |toks AS (
         |  SELECT doc_id, flatten(list_transform(sws, w -> string_split(trim(w), '  '))) AS ts
         |  FROM a$BpeGateMerges)
         |SELECT doc_id,
         |  CAST(coalesce(len(ts), 0) AS BIGINT) AS n_tokens,
         |  coalesce(array_to_string(ts, ' '), '') AS bpe_text
         |FROM toks
         |ORDER BY doc_id""".stripMargin
  }

  /** stream_dedup_content's oracle: the documents table doubled under
    * offset ids, each row's portable 60-bit md5 simhash rebuilt with
    * the same per-bit vote fold as [[simhashOracleSql]], survivor =
    * min doc_id per signature (degenerate token-free rows exempt). */
  private def streamDedupContentOracleSql: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val bits = (0 until 60)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    raw"""WITH duped AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
         |  WHERE doc_id IS NOT NULL),
         |toks AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
         |  FROM duped),
         |hashed AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
         |votes AS (SELECT doc_id,
         |    $votes
         |  FROM hashed GROUP BY doc_id),
         |sim AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM votes),
         |r AS (
         |  SELECT d.doc_id, d.text,
         |    (d.text IS NULL OR NOT regexp_matches(d.text, '\S')) AS degen,
         |    row_number() OVER (PARTITION BY s.sh ORDER BY d.doc_id) AS rn
         |  FROM duped d LEFT JOIN sim s ON d.doc_id = s.doc_id)
         |SELECT doc_id, text FROM r
         |WHERE degen OR rn = 1
         |ORDER BY doc_id""".stripMargin
  }

  private def simhashOracleSql: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val bits = (0 until 60)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    raw"""WITH toks AS (
         |  SELECT doc_id AS id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
         |  FROM documents),
         |hashed AS (SELECT id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
         |votes AS (SELECT id,
         |    $votes
         |  FROM hashed GROUP BY id),
         |sim AS (SELECT id, CAST($bits AS BIGINT) AS sh FROM votes)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sim a, sim b
         |WHERE a.id < b.id AND bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
  }
}
