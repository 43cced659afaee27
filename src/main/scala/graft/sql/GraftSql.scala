package graft.sql

import graft.sources.{ReadConfig, Readers}
import graft.sources.Readers.Format
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry point for the reference-dialect SQL front end (T4 + Q1–Q20).
  * Rewrites run on text; probe queries used for `* EXCEPT/REPLACE/RENAME`
  * expansion are analysis-only (spark.sql(...).schema) — no jobs run.
  */
object GraftSql {

  // Collision-proof temp-view naming for file table functions: each
  // distinct (fn, path) pair gets a sequential suffix, assigned once per
  // JVM. A hash-derived name could silently collide two different files
  // onto one view and serve the wrong data; a counter cannot.
  private val tableFnViews =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private val tableFnSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Register the dialect's native helper expressions in `spark`'s
    * function registry (idempotent). `GRAFT_FLOORDIV` backs the `//`
    * operator: exact int64 floor division when both operands resolve
    * integral, `floor(l/r)` otherwise — a type dispatch the text-level
    * rewrite cannot make. */
  private def ensureFunctions(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_floordiv",
      { args =>
        require(args.length == 2, s"GRAFT_FLOORDIV expects 2 args, got ${args.length}")
        graft.functions.FloorDiv(args(0), args(1))
      },
      "built-in")

  def rewrite(spark: SparkSession, sql: String): String = {
    ensureFunctions(spark)
    // pass 0: file table functions — each distinct (fn, path) becomes a
    // temp view read through the app's own open (Readers.read: sniffed
    // CSV dialect, bounded inference), so `FROM read_csv('x.csv')` gets
    // the same ingest semantics as opening the file in the app.
    // Registered before pass 1 so star-modifier schema probes can
    // already resolve the views.
    val pass0 = SqlRewriter.substituteTableFns(sql, (fn, path) => {
      val format = fn match {
        case "read_csv"     => Format.Csv
        case "read_json"    => Format.Json
        case "read_ndjson"  => Format.NdJson
        case "read_parquet" => Format.Parquet
        case other          => throw new IllegalArgumentException(s"unknown table fn $other")
      }
      val (df, _) = Readers.read(spark, path, format, ReadConfig())
      // stable per (fn, path): the same file referenced twice shares one
      // view; the name embeds a sanitized basename for debuggability and
      // a per-JVM sequence number for uniqueness
      val view = tableFnViews.computeIfAbsent((fn, path), { _ =>
        val base = path.split('/').last.replaceAll("[^A-Za-z0-9]", "_").take(40)
        s"graft_tf_${tableFnSeq.getAndIncrement()}_$base"
      })
      df.createOrReplaceTempView(view)
      view
    })
    val pass1 = SqlRewriter.rewriteQuotesAndFunctions(pass0)
    val probe = (p: String) => spark.sql(p).columns.toSeq
    val pass2 = SqlRewriter.expandStarModifiers(pass1, probe)
    // COLUMNS('^re$') / COLUMNS(*) projection expansion — same
    // schema-probe machinery, applied after star expansion so a probe
    // never sees an unexpanded modifier. GROUP BY ALL / ORDER BY ALL
    // need no rewrite: Spark supports both natively and every pass
    // leaves the bare ALL keyword untouched.
    val pass3 = SqlRewriter.expandColumnsFn(pass2, probe)
    // UNION BY NAME runs LAST: its branch probes must see fully
    // Spark-parsable text (no unexpanded star modifiers / COLUMNS())
    SqlRewriter.expandUnionByName(pass3, probe)
  }

  def run(spark: SparkSession, sql: String): DataFrame = {
    val rewritten = rewrite(spark, sql)
    try spark.sql(rewritten)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNRESOLVED_COLUMN") || e.getMessage.contains("cannot be resolved") =>
        // Q15: HAVING referencing a select-list alias
        spark.sql(SqlRewriter.rewriteHavingAliases(rewritten))
    }
  }
}
