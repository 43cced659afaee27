package perfbench

import graft.Container
import graft.meta.Introspect
import graft.operators.{PipelineConfig, SortOps}
import graft.sources.ReadConfig
import graft.sql.GraftSql
import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}

/** viewer_session: rounds of opening a `;`-delimited Euro-decimal CSV
  * and then running one block of seeded actions against the cached
  * original — SQL re-queries, header-click sorts and a pipeline toggle —
  * each showing a first page (shape plus 20 rows). Opens and actions
  * alternate over the whole run, so a slow spell of the machine weighs on
  * both alike. */
object Viewer {
  val Rows = 20000
  /** Actions per round: a round is an open plus half a block. */
  val RoundActions = 5
  /** Timed rounds per cycle: the eight half-blocks of a cycle take each
    * combination of the two toggled flags once. A run takes whole cycles,
    * at least one. */
  val CycleRounds = 8
  val PageRows = 20

  val ReadCfg: ReadConfig = ReadConfig(forceStringRegex = Some("^id40$"))
  val BaseCfg: PipelineConfig = PipelineConfig(
    dropRegex = Some("^tmp_.*$"),
    normalizeRegex = Some("^(amount|price)$"),
    nullMarkers = Seq("", "NA", "<N/D>"))
  /** 16 generated columns minus the three dropped `tmp_*` ones. */
  val BaseCols = 13

  final class Data(val table: Gen.Table, val csv: File)

  def generate(ctx: Ctx): Data = {
    val t = Gen.table(ctx.seed, Rows)
    val csv = new File(ctx.data, "table.csv")
    ctx.ensure(csv)(f => Gen.writeCsv(t, f))
    ctx.state("workload" -> "viewer_session", "seed" -> ctx.seed, "rows" -> Rows,
      "columns" -> Gen.Columns.length, "csv_bytes" -> csv.length(),
      "qty_null_share" -> Gen.QtyNullShare, "score_null_share" -> Gen.ScoreNullShare,
      "flag_na_share" -> Gen.FlagNullShare, "note_marker_share" -> Gen.NoteMarkerShare,
      "cache_fits" -> "checked at every open: the cached original is wholly in memory")
    new Data(t, csv)
  }

  // ---- expected results, computed from the generator's own values --------

  val SortColumns: IndexedSeq[String] =
    IndexedSeq("cat", "city", "qty", "score", "amount", "ts", "flag", "name")

  /** Cell value after the pipeline (null markers replaced, Euro decimals
    * normalized), as a comparable, or null. */
  private def value(t: Gen.Table, c: String, i: Int): Comparable[_] = c match {
    case "cat" => Integer.valueOf(t.cat(i).toInt)
    case "city" => Gen.Cities(t.city(i))
    case "qty" => if (t.qty(i) < 0) null else Integer.valueOf(t.qty(i))
    case "score" => t.score(i).map(java.lang.Double.valueOf).orNull
    case "amount" => java.lang.Double.valueOf(t.amount(i))
    case "ts" => Integer.valueOf(t.day(i))
    case "flag" => if (t.flag(i) == 2) null else t.flagText(i)
    case "name" => t.name(i)
  }

  /** Row order under `criteria`, ties broken by file order (stable sort). */
  def compare(t: Gen.Table, criteria: Seq[SortOps.SortBy], i: Int, j: Int): Int = {
    val it = criteria.iterator
    while (it.hasNext) {
      val s = it.next()
      val a = value(t, s.column, i)
      val b = value(t, s.column, j)
      val c =
        if (a == null && b == null) 0
        else if (a == null) (if (s.nullsLast) 1 else -1)
        else if (b == null) (if (s.nullsLast) -1 else 1)
        else {
          val v = a.asInstanceOf[Comparable[Any]].compareTo(b)
          if (s.ascending) v else -v
        }
      if (c != 0) return c
    }
    Integer.compare(i, j)
  }

  /** `seq` of the first `k` rows under `criteria`. */
  def topSeqs(t: Gen.Table, criteria: Seq[SortOps.SortBy], k: Int): Seq[Long] = {
    val worstFirst = new java.util.PriorityQueue[Integer](k + 1,
      (a: Integer, b: Integer) => -compare(t, criteria, a, b))
    var i = 0
    while (i < t.n) {
      worstFirst.add(i)
      if (worstFirst.size > k) worstFirst.poll()
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (!worstFirst.isEmpty) out += worstFirst.poll()
    out.reverse.map(_ + 1L).toSeq
  }

  /** The header-click cycle as the reference defines it: not sorted →
    * desc/nulls first → asc/nulls first → desc/nulls last → asc/nulls
    * last → not sorted; a clicked column moves to the end of the list. */
  def click(criteria: Seq[SortOps.SortBy], c: String): Seq[SortOps.SortBy] = {
    val rest = criteria.filterNot(_.column == c)
    criteria.find(_.column == c) match {
      case None => rest :+ SortOps.SortBy(c, ascending = false, nullsLast = false)
      case Some(SortOps.SortBy(_, false, false)) => rest :+ SortOps.SortBy(c, true, false)
      case Some(SortOps.SortBy(_, true, false)) => rest :+ SortOps.SortBy(c, false, true)
      case Some(SortOps.SortBy(_, false, true)) => rest :+ SortOps.SortBy(c, true, true)
      case Some(_) => rest
    }
  }

  /** One SQL template instance and the row count it must return. */
  final case class Query(template: String, sql: String, expectedRows: Long)

  /** The actions of two rounds: 60 % queries, 30 % sorts, 10 %
    * toggles. Queries cycle through the templates, sorts through the sort
    * columns and toggles alternate between the two pipeline flags, so
    * every run takes the same sequence of actions; the seed sets the data
    * and the query parameters. (A toggle changes the cost of every later
    * action by a job, so a seeded toggle sequence would make runs differ
    * in work, not in speed.) */
  val Block: String = "qqsqqsqqst"
  val Templates = 11

  /** Instance of SQL template `k` with seeded parameters. */
  def query(t: Gen.Table, k: Int, r: SplittableRandom): Query = {
    val n = t.n
    def count(p: Int => Boolean): Long = { var k = 0L; var i = 0; while (i < n) { if (p(i)) k += 1; i += 1 }; k }
    def distinct[K](p: Int => Boolean, key: Int => K): Long =
      (0 until n).iterator.filter(p).map(key).toSet.size.toLong
    def cents(c: Long) = f"${c / 100}.${c % 100}%02d"
    k % Templates match {
      case 0 =>
        val c = r.nextInt(10); val q = r.nextInt(100)
        Query("filter", s"SELECT * FROM AllData WHERE cat = $c AND qty > $q",
          count(i => t.cat(i) == c && t.qty(i) > q))
      case 1 =>
        val c = r.nextInt(10)
        Query("group_by", s"SELECT city, COUNT(*) AS n, SUM(amount) AS total FROM AllData " +
          s"WHERE cat <> $c GROUP BY city", distinct(i => t.cat(i) != c, i => t.city(i)))
      case 2 =>
        val k = 1 + r.nextInt(50)
        val perCity = t.city.groupBy(identity).view.mapValues(_.length.toLong)
        Query("window", "WITH ranked AS (SELECT seq, city, amount, ROW_NUMBER() OVER " +
          "(PARTITION BY city ORDER BY amount DESC, seq) AS rn FROM AllData) " +
          s"SELECT * FROM ranked WHERE rn <= $k", perCity.values.map(math.min(_, k.toLong)).sum)
      case 3 =>
        val a = r.nextLong(10000000L)
        Query("cte", s"WITH big AS (SELECT cat, amount FROM AllData WHERE amount > ${cents(a)}) " +
          "SELECT cat, COUNT(*) AS n FROM big GROUP BY cat",
          distinct(i => t.amountCents(i) > a, i => t.cat(i)))
      case 4 =>
        val c = r.nextInt(Gen.Cities.length)
        Query("star_except", s"SELECT * EXCEPT (note, flag) FROM AllData WHERE city = " +
          s"'${Gen.Cities(c)}'", count(i => t.city(i) == c))
      case 5 =>
        val c = r.nextInt(10)
        Query("star_replace", "SELECT * REPLACE (amount * 2 AS amount) FROM AllData " +
          s"WHERE qty IS NULL AND cat = $c", count(i => t.qty(i) < 0 && t.cat(i) == c))
      case 6 =>
        val frag = t.name(r.nextInt(n)).toLowerCase.take(3)
        Query("ilike", s"SELECT seq, name FROM AllData WHERE name ILIKE '%${frag.toUpperCase}%'",
          count(i => t.name(i).toLowerCase.contains(frag)))
      case 7 =>
        val tail = t.name(r.nextInt(n)).takeRight(2)
        Query("regex", s"SELECT seq, name, city FROM AllData WHERE name ~ '${tail}$$'",
          count(i => t.name(i).endsWith(tail)))
      case 8 =>
        val c = r.nextInt(10)
        Query("strftime", "SELECT STRFTIME(ts, '%Y-%m') AS ym, COUNT(*) AS n FROM AllData " +
          s"WHERE cat = $c GROUP BY ym", distinct(i => t.cat(i) == c, i => t.dateText(i).take(7)))
      case 9 =>
        val p = r.nextInt(50000).toLong
        Query("columns", s"SELECT COLUMNS('^(seq|amount|price)$$') FROM AllData " +
          s"WHERE price > ${cents(p)}", count(i => t.priceCents(i) > p))
      case _ =>
        val c = r.nextInt(10)
        Query("floor_div", "SELECT seq // 1000 AS bucket, COUNT(*) AS n FROM AllData " +
          s"WHERE cat = $c GROUP BY bucket", distinct(i => t.cat(i) == c, i => (i + 1) / 1000))
    }
  }

  // ---- the session ------------------------------------------------------

  final case class Page(rows: Long, cols: Int, head: Array[Row])

  private def seqs(p: Page): Seq[Long] = p.head.toSeq.map(_.getAs[Any]("seq").toString.toLong)

  /** First page of `df` as the CLI shows it. */
  private def firstPage(df: DataFrame): Page = {
    val (rows, cols) = Introspect.shape(df)
    Page(rows, cols, df.take(PageRows))
  }

  /** Build the action's frame, plan it (traced only), show its first page. */
  private def show(ctx: Ctx, c: Container): Page = {
    val tr = ctx.tracer
    val df = tr.span("transforms.pipeline")(c.current)
    if (tr.enabled) tr.span("catalyst.plan")(df.queryExecution.executedPlan)
    tr.span("action.exec")(firstPage(df))
  }

  def run(ctx: Ctx, d: Data): Pass = {
    val t = d.table
    val spark = ctx.spark
    val out = ctx.out
    val tr = ctx.tracer
    val r = new SplittableRandom(ctx.seed * 31 + 17)
    var base: Container = null
    var view: Container = null
    var cacheBytes = 0L
    var removeNull = false
    var rowIndex = false
    var criteria = Seq.empty[SortOps.SortBy]
    def cfg = BaseCfg.copy(removeNullCols = removeNull,
      rowIndex = if (rowIndex) Some(("Row Number", 1L)) else None)
    var queries = 0
    var sorts = 0
    var toggles = 0

    /** Open the file afresh in place of the previous open; the view keeps
      * the toggled pipeline and drops the sort. */
    def open(kind: String): Unit = {
      if (base != null) {
        base.release()
        // unpersist is asynchronous: let the old cache go before the next
        // open, so the cache measured below is this open's alone
        val until = System.nanoTime() + 5000000000L
        while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < until)
          Thread.sleep(10)
      }
      base = null
      out.op(kind) {
        tr.action("open") {
          val c = tr.span("container.load")(Container.load(spark, d.csv.getPath, ReadCfg, BaseCfg))
          base = c
          tr.span("container.first_page")(firstPage(c.current))
        }
      } { p =>
        val cached = spark.sparkContext.getRDDStorageInfo
        cacheBytes = cached.map(i => i.memSize + i.diskSize).sum
        if (cached.exists(i => i.diskSize > 0 || i.numCachedPartitions < i.numPartitions))
          Some("the cached original does not fit in storage memory")
        else if (p.rows != t.n || p.cols != BaseCols)
          Some(s"shape (${p.rows}, ${p.cols}), expected (${t.n}, $BaseCols)")
        else if (seqs(p) != (1L to PageRows)) Some(s"first page rows ${seqs(p).take(5)}…")
        else None
      }
      view = if (base == null) null else base.withConfig(cfg)
      criteria = Seq.empty
    }

    /** Take one action of the block; `as` names its outcome kind. */
    def act(kind: Char, as: String => String): Unit =
      if (kind == 'q') {
        val q = query(t, queries, r)
        queries += 1
        out.op(as("query")) {
          tr.action("query") {
            val c = base.withConfig(cfg.copy(sql = Some(q.sql)))
            val page = show(ctx, c)
            // the rewrite runs inside the pipeline's SQL stage; traced runs
            // time it once more on its own, against the same view
            if (tr.enabled) tr.span("sql.rewrite")(GraftSql.rewrite(spark, q.sql))
            page
          }
        } { p =>
          if (p.rows != q.expectedRows) Some(s"${q.template}: ${p.rows} rows, expected ${q.expectedRows}")
          else None
        }
      } else if (kind == 's') {
        val col = SortColumns(sorts % SortColumns.length)
        sorts += 1
        criteria = click(criteria, col)
        val expected = criteria
        val next = view.clickColumn(col)
        view = next
        out.op(as("sort"))(tr.action("sort")(show(ctx, next))) { p =>
          if (next.sortCriteria != expected) Some(s"criteria ${next.sortCriteria}, expected $expected")
          else if (p.rows != t.n) Some(s"${p.rows} rows after sort")
          else {
            val want = topSeqs(t, expected, PageRows)
            if (seqs(p) != want) Some(s"page ${seqs(p)} != expected $want under $expected")
            else None
          }
        }
      } else {
        if (toggles % 2 == 0) removeNull = !removeNull else rowIndex = !rowIndex
        toggles += 1
        criteria = Seq.empty
        val next = base.withConfig(cfg)
        view = next
        val cols = BaseCols - (if (removeNull) 1 else 0) + (if (rowIndex) 1 else 0)
        out.op(as("toggle"))(tr.action("toggle")(show(ctx, next))) { p =>
          if (p.rows != t.n || p.cols != cols) Some(s"shape (${p.rows}, ${p.cols}), expected (${t.n}, $cols)")
          else if (seqs(p) != (1L to PageRows)) Some(s"page ${seqs(p).take(5)}…")
          else None
        }
      }

    /** Round `i`: open the file, then the `i % 2`th half of the block. A
      * warm-up round counts as attempted (and failed when wrong) but adds
      * no latency sample. */
    def round(i: Int, warm: Boolean): Boolean = {
      def as(k: String) = if (warm) "warm" else k
      open(as("open"))
      if (base != null) Block.slice(i % 2 * RoundActions, (i % 2 + 1) * RoundActions).foreach(act(_, as))
      base != null
    }

    // warm-up: one block, untimed and untraced
    if (!tr.untraced(round(0, warm = true) && round(1, warm = true)))
      return Pass.failed(ctx, "a warm-up open failed")
    // the clock counts timed rounds only. Rounds come in whole cycles of
    // the toggle states, so every run takes the same mix of actions; a
    // further cycle starts only when the last one would fit in the time
    // left, so a run stays near --seconds.
    ctx.startClock()
    var cycleNs = 0L
    do {
      val c0 = System.nanoTime()
      var k = 0
      while (k < CycleRounds) {
        if (!round(k, warm = false)) return Pass.failed(ctx, "an open failed")
        k += 1
      }
      cycleNs = System.nanoTime() - c0
    } while (ctx.remainingNs > cycleNs)
    base.release()

    val opens = out.ms("open")
    val steps = out.ms("query", "sort", "toggle")
    Pass(
      e2e = Pass.steps(steps, CycleRounds * RoundActions) ++ Map(
        "rows_per_s" -> (if (opens.isEmpty) 0.0 else t.n / (Pass.p50(opens) / 1e3)),
        "stored_bytes_per_input_byte" -> cacheBytes.toDouble / d.csv.length()),
      extra = Map(
        "open_p50_s" -> Pass.p50(opens) / 1e3,
        "query_p50_ms" -> Pass.p50(out.ms("query")),
        "sort_p50_ms" -> Pass.p50(out.ms("sort")),
        "container.cache_mb" -> cacheBytes / 1e6))
  }
}
