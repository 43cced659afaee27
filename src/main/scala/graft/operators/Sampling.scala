package graft.operators

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-splitting and sequence-packing operators for training-data
  * pipelines.
  *
  * Splits must be DETERMINISTIC (reproducible across runs/clusters) and,
  * for near-duplicate corpora, LEAKAGE-SAFE: two near-duplicate documents
  * must land in the same split or the eval set is contaminated.
  */
object Sampling {

  /** Deterministic percentage bucket 0..99 from an id column, via md5 of
    * the id's decimal string — engine-portable (md5 is identical
    * everywhere) and structure-free: pure modular arithmetic like
    * `(id*k) % 100` collapses to a permutation of `id % 100`, which
    * degenerates on block-allocated id schemes (all multiples of 100 →
    * one bucket → empty eval split). Three hex chars give 16^3 = 4096
    * uniform states folded to 0..99. */
  def pctBucket(id: Column): Column = {
    val hex = md5(id.cast("string"))
    pmod(
      ascii(substring(hex, 1, 1)) * 10007 +
        ascii(substring(hex, 2, 1)) * 131 +
        ascii(substring(hex, 3, 1)),
      lit(100)).cast("long")
  }

  /** Deterministic train/eval split: train = bucket < trainPct. */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int): DataFrame =
    df.withColumn("split",
      when(pctBucket(col(idCol)) < trainPct, "train").otherwise("eval"))

  /** Deterministic STRATIFIED sample: each stratum keeps rows whose
    * SALTED [[pctBucket]] falls under its own percentage — e.g.
    * downsample over-represented languages/sources to rebalance a
    * training mix. Strata absent from `pctByStratum` keep `defaultPct`.
    * Fully map-side (no shuffle, no sampling state) and reproducible
    * across runs/clusters/engines (md5 bucketing).
    *
    * The bucket is salted with "#sample" so sampling is INDEPENDENT of
    * [[hashSplit]]'s train/eval bucket — on the raw id bucket, any
    * stratum sampled at pct ≤ trainPct would contribute ZERO eval rows
    * (the surviving bucket range would sit entirely inside train). */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(stratumCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(pctBucket(concat(col(idCol).cast("string"), lit("#sample"))) < pct)
  }

  /** Deterministic EXACTLY-k-per-group sample: each group keeps the k
    * rows with the smallest md5(id ‖ salt) (id tiebreak) — the
    * count-based complement to the rate-based [[stratifiedSample]],
    * for balanced eval sets and per-source caps where "10 000 docs
    * per source" is the contract, not "0.1% of each". No RNG state,
    * no seed exchange: every engine and every rerun draws the same
    * rows; a different `salt` is an independent draw. Groups smaller
    * than k keep everything.
    *
    * Shape: one `row_number() <= k` window per group, the
    * [[Similarity.topKPerKey]] shape: Spark plans a partial limit below
    * the group's one hash exchange, so at most k rows per partition per
    * group cross it, and the md5 priority is uniform, so group skew
    * collapses at the map side. */
  def samplePerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int,
      salt: String = "#kpg"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__pr"), col(idCol))
    df.withColumn("__pr", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // cast after the filter: Spark infers the partial limit only from
      // a filter on the bare row_number()
      .withColumn("rank", col("rank").cast("long"))
      .drop("__pr")
  }

  /** Deterministic weight-proportional sample WITHOUT replacement
    * (Efraimidis–Spirakis A-ES, Inf. Proc. Letters 2006): keep the k
    * rows maximizing ln(u_i)/w_i with u_i uniform in (0,1) — each row
    * wins with probability proportional to its weight, exactly the
    * "sample documents by token count" / "pick shards by size"
    * primitive. u_i is the md5 fine-bucket draw (deterministic,
    * engine-replayable — the [[Dsir]] Gumbel discipline; a different
    * `salt` is an independent draw). ln(u) < 0, so dividing by a
    * LARGER weight moves the key toward zero, i.e. upward.
    *
    * Rows with null/zero/negative weights are EXCLUDED (they have no
    * defined inclusion probability), not errors — filters compose
    * upstream. Output: (all input columns, es_key, rank), rank 1..k.
    * `rankRoundDp >= 0` ranks on the ROUNDED key (id tiebreak) — the
    * cross-engine policy; ln() is transcendental, so exact keys can
    * differ in the last ulp between engines.
    *
    * Shape: map-side key computation, then the keyless
    * [[Similarity.topKPerKey]] shape: an explicit `orderBy(…).limit(k)`
    * plans a `TakeOrderedAndProject`, so ≤ k rows per partition reach
    * its single partition, where the rank is taken. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
      salt: String = "#ws", rankRoundDp: Int = -1): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val u = (fineBucket(concat(col(idCol).cast("string"), lit(salt)))
      .cast("double") + lit(0.5)) / lit(MixBuckets.toDouble)
    val keyed = df
      // NaN must be excluded EXPLICITLY: Spark orders NaN above every
      // number, so `NaN > 0.0` is true and a NaN key would seize rank 1
      .filter(col(weightCol).isNotNull &&
        !isnan(col(weightCol).cast("double")) &&
        col(weightCol).cast("double") > 0.0)
      .withColumn("es_key", log(u) / col(weightCol).cast("double"))
    val rankKey = if (rankRoundDp >= 0) round(col("es_key"), rankRoundDp)
                  else col("es_key")
    val order = Seq(rankKey.desc, col(idCol))
    keyed.orderBy(order: _*).limit(k)
      .withColumn("rank", row_number().over(Window.partitionBy().orderBy(order: _*))
        .cast("long"))
  }

  /** Min-id connected components over an undirected edge set: for every
    * id in `ids`, the minimum id reachable over `pairs` edges. Output:
    * (id, rep). Pointer-jumping min-propagation run TO FIXPOINT — each
    * round closes chains of length 2^round, and the loop stops as soon as
    * a round changes no representative (bounded by `maxRounds` as a
    * runaway guard, so pathological graphs terminate).
    *
    * Scale shape: the edge set is materialized ONCE before the loop
    * ([[graft.Materialize.once]]; set `graft.checkpoint.dir` on a
    * cluster for reliable checkpoints). `pairs` usually hangs off an
    * expensive
    * candidate-generation DAG (MinHash signatures + LSH bucket join), and
    * a lazy reference inside the loop would re-run that whole DAG every
    * superstep — at 100 TB that is rounds+1 corpus passes instead of one.
    * Supersteps then cost O(|edges|) per round, independent of corpus
    * size; callers should pass only the edge-member ids when singletons
    * are not needed. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxRounds: Int = 16): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructType
    val spark = ids.sparkSession
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .transform(Materialize.once(_))
    var rep = ids.select(col("id")).distinct().withColumn("rep", col("id"))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxRounds) {
      // superstep 1: take the min over neighbors' representatives (1 hop)
      val viaNeighbor = edges
        .join(rep.select(col("id").as("id_b"), col("rep").as("nrep")), Seq("id_b"))
        .groupBy(col("id_a").as("id")).agg(min("nrep").as("nrep"))
      val hopped = rep.withColumnRenamed("rep", "prev")
        .join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nrep"), col("prev"))).as("rep"))
      // superstep 2: pointer jumping — rep(v) := rep(rep(v)), doubling the
      // closed chain length per round
      val jumped = hopped.alias("h")
        .join(hopped.select(col("id").as("rid"), col("rep").as("rrep")),
          col("rep") === col("rid"), "left")
        .select(col("id"), col("prev"),
          least(col("rep"), coalesce(col("rrep"), col("rep"))).as("rep"))
      // The convergence check is FOLDED INTO the checkpoint job: an
      // accumulator counts rep!=prev rows while the round's result
      // materializes — one Spark job per round instead of checkpoint+count
      // (the per-round job overhead dominated wall time at small scale).
      // Task retries/speculation can only over-count a nonzero round, and
      // a converged round sums 0 from every attempt, so the zero-vs-
      // nonzero decision is retry-safe on a real cluster. The checkpoint
      // also cuts lineage: without it the self-referencing plan doubles
      // per iteration and optimizer time dominates.
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_round_$i")
      val outSchema = StructType(Seq(jumped.schema("id"), jumped.schema("rep")))
      val next = jumped.mapPartitions { it =>
        it.map { r =>
          if (!java.util.Objects.equals(r.get(1), r.get(2))) acc.add(1L)
          Row(r.get(0), r.get(2))
        }
      }(Encoders.row(outSchema))
        // eager ON PURPOSE: the accumulator read below is only valid
        // because this materialization runs the round's job NOW. A lazy
        // variant would read acc.value==0 and exit after one round with
        // silently wrong components.
        .transform(Materialize.once(_, eager = true))
      changed = acc.value
      if (changed == 0L) {
        // Defensive re-check: acc==0 must mean genuine convergence, not
        // a skipped/lazy materialization (e.g. a future refactor flips
        // `eager`, or a materialization mode that defers the job). The
        // explicit recount runs at most once per converged run — and
        // keeps the loop alive if the accumulator was never populated.
        changed = next.alias("n")
          .join(rep.select(col("id"), col("rep").as("prev")), Seq("id"))
          .where(col("rep") =!= col("prev")).count()
      }
      rep = next
      i += 1
    }
    rep
  }

  /** Leakage-safe split: members of a near-duplicate group (edges from
    * e.g. [[Dedup.minhashPairs]]) follow their group representative —
    * exact connected components via [[connectedComponents]] (fixpoint, so
    * arbitrarily long chains land in one split; `maxRounds` only guards
    * against pathological graphs).
    *
    * The component computation runs over the EDGE MEMBERS only — the
    * near-dup subgraph, typically a tiny fraction of the corpus — and is
    * joined back; singletons keep themselves as representative. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int, rounds: Int = 16): DataFrame = {
    // Materialize the pair DAG ONCE: `pairs` usually hangs off expensive
    // candidate generation (MinHash signatures + LSH join + exact verify),
    // and it is consumed four times below — twice for members (id_a/id_b
    // union) and twice inside connectedComponents' undirected edge union.
    // Spark does not share common subplans across union branches, so
    // without this the whole candidate DAG executes 4x.
    val p = pairs.select(col("id_a"), col("id_b")).transform(Materialize.once(_))
    val members = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val rep = connectedComponents(members, p, rounds)
    df.join(rep.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("split",
        when(pctBucket(coalesce(col("rep"), col(idCol))) < trainPct, "train")
          .otherwise("eval"))
      .drop("rep")
  }

  /** Deterministic fine-grained bucket 0..2^20-1 from a string key: the
    * first six hex chars of md5(key) parsed as a 24-bit integer, folded
    * mod 2^20 — PERFECTLY uniform (2^24 / 2^20 = 16 exactly) where a
    * non-power-of-two fold would bias low buckets, and engine-portable
    * like [[pctBucket]] (md5 + ascii arithmetic reproduce verbatim in
    * any SQL engine; rate granularity ~1e-6 where pctBucket's 100
    * buckets quantize to 1%). */
  private[operators] def fineBucket(key: Column): Column =
    graft.functions.HashFunctions.md5Fold6(key, MixBuckets)

  val MixBuckets: Long = 1048576L

  /** Resample a corpus to a TARGET SOURCE MIXTURE — the data-mixing
    * step of an LLM training pipeline (sample web/code/books/wiki to
    * chosen proportions; with `targetRows`, express "N epochs of a
    * small high-quality source" as replication). `weights` are RELATIVE
    * weights per `sourceCol` value; sources absent from the map are
    * DROPPED (the mixture is an explicit allowlist), and every weighted
    * source must be present in the data (a zero-count source would
    * silently zero the whole mixture instead of failing).
    *
    * Default (`targetRows = None`): the largest mixture achievable by
    * pure downsampling — T = min_s(n_s / w_s) "rows per unit weight",
    * each source keeps k_s ≈ w_s·T rows, the binding source keeps all.
    * With `targetRows = Some(N)`: T = N / Σw, and sources whose demand
    * exceeds their supply are UPSAMPLED by row replication — the output
    * gains `copy` indices 1.. on the replicated rows (capped at
    * `maxEpochs` passes over a source, the standard repetition-harm
    * guard). Rows are chosen by [[fineBucket]] hash thresholds salted
    * per copy: fully deterministic, reproducible across runs, engines,
    * and cluster layouts, and INDEPENDENT of [[hashSplit]]'s buckets.
    * Realized per-source counts are binomial around k_s (exact-k would
    * need a per-source global rank — a corpus-wide sort for a √n
    * cosmetic improvement; deviations are O(√n_s) and vanish at scale).
    *
    * Scale shape: one combiner-reduced groupBy(source).count() collect
    * (bounded by source cardinality — mixtures are written over tens of
    * sources, not millions), then a single map-side filter (+ a ≤
    * maxEpochs explode on upsampled sources only). Nothing shuffles.
    * NOT a pure lazy plan: the count job runs at call time. */
  def mixToWeights(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], targetRows: Option[Long] = None,
      maxEpochs: Double = 8.0): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (s, w) =>
      require(w > 0.0 && java.lang.Double.isFinite(w),
        s"weight for source '$s' must be finite and > 0 (got $w)") }
    val inMix = df.filter(col(sourceCol).cast("string").isin(weights.keySet.toSeq: _*))
    // cast to string BOTH here and in the filter/rate-attach below: the
    // weights map is keyed by strings, so a non-string sourceCol (an int
    // source id, say) must compare under the same cast everywhere —
    // and the collect must not ClassCastException on a non-string row
    val counts = inMix.groupBy(col(sourceCol).cast("string").as("__s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weights.keySet -- counts.keySet
    require(missing.isEmpty,
      s"weighted sources absent from the data: ${missing.toSeq.sorted.mkString(", ")}")
    // rows-per-unit-weight: every arithmetic step below is a single
    // IEEE op over exact integers and the caller's literal weights —
    // no normalization sum whose ORDER could differ between engines
    // re-deriving the rates (the oracle-parity discipline)
    val tUnits = targetRows match {
      case None => weights.map { case (s, w) => counts(s).toDouble / w }.min
      case Some(n) =>
        require(n > 0, s"targetRows must be > 0 (got $n)")
        // Σw summed in sorted-key order — deterministic for any replica
        n.toDouble / weights.toSeq.sortBy(_._1).map(_._2).sum
    }
    val rate: Map[String, Double] = weights.map { case (s, w) =>
      val r = (w * tUnits) / counts(s).toDouble
      require(targetRows.isEmpty || r <= maxEpochs,
        f"source '$s' would need $r%.2f epochs (> maxEpochs=$maxEpochs) to meet the target " +
          "mixture — raise maxEpochs explicitly or lower its weight")
      s -> r
    }
    // rate attach: a literal when-chain keeps the plan narrow (zero
    // exchanges) but is a per-source-deep expression tree — fine for
    // the tens of sources mixtures are written over, pathological for
    // thousands (codegen blowup). Past 64 sources the rates ride a
    // broadcast-joined frame instead: one BroadcastExchange, flat
    // expressions, any cardinality.
    val withRates: DataFrame =
      if (rate.size <= 64) {
        def chain(f: Double => Double, default: Column): Column =
          rate.toSeq.sortBy(_._1).foldLeft(default) { case (acc, (s, r)) =>
            when(col(sourceCol).cast("string") === s, lit(f(r))).otherwise(acc) }
        inMix
          .withColumn("__rate", chain(identity, lit(0.0)))
          .withColumn("__copies",
            chain(r => math.max(1L, math.ceil(r).toLong).toDouble, lit(1.0)).cast("long"))
      } else {
        val sess = df.sparkSession
        import sess.implicits._
        // join on a temp STRING key so a non-string sourceCol keeps its
        // original type in the output (a using-join on mismatched types
        // would coerce the caller's column)
        val rateDf = rate.toSeq.sortBy(_._1)
          .map { case (s, r) => (s, r, math.max(1L, math.ceil(r).toLong)) }
          .toDF("__s", "__rate", "__copies")
        inMix.withColumn("__s", col(sourceCol).cast("string"))
          .join(broadcast(rateDf), Seq("__s")).drop("__s")
      }
    val out = withRates
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      // copy c of a row survives with probability clamp(r - c, 0, 1):
      // full passes keep everything, the fractional last pass hash-
      // filters, salted per copy so passes sample independently
      .withColumn("__cut",
        floor(least(lit(1.0), greatest(lit(0.0), col("__rate") - col("copy").cast("double"))) *
          lit(MixBuckets.toDouble) + lit(0.5)).cast("long"))
      .filter(fineBucket(concat(col(idCol).cast("string"), lit("#mix"),
        col("copy").cast("string"))) < col("__cut"))
      .drop("__cut", "__rate", "__copies")
    if (targetRows.isEmpty) out.withColumn("copy", col("copy") * 0L) else out
  }

  /** EXPLICIT partition count for the two-pass global samplers — an
    * unspecified count would let AQE coalesce the counts pass and the
    * output pass DIFFERENTLY, silently corrupting prefix sums. */
  private def numRangeParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Sound fast-path guard for the two-pass global budget sampler:
    * the output job must reproduce the counts job's row MULTISET.
    * All-expressions-deterministic is NOT enough — a limit after a
    * shuffle keeps whichever rows the shuffle fetch race delivered, a
    * sample draws from per-partition arrival order, a
    * dropDuplicates/first() aggregate keeps an order-dependent row —
    * all with every expression flagged deterministic. So this reuses
    * [[AddRowIndex.rescanSafe]]'s shape (deterministic narrow
    * Project/Filter over a leaf, nothing wider) with the leaf-pinning
    * relaxed (`localMaster = true`): value stability needs the same
    * row VALUES, not the same splits — a file scan re-planned with
    * different splits on a real cluster still yields the same
    * multiset. Anything wider (exchange, limit, sample, aggregate,
    * join) materializes once. */
  private def valueStable(df: DataFrame): Boolean =
    AddRowIndex.rescanSafe(df.queryExecution.optimizedPlan,
      localMaster = true)

  /** Pin the partition space between [[nextFitPack]]'s counts job and
    * output job by MATERIALIZING the range-partitioned, pid-stamped
    * frame once. There is no sound fast path: even a bit-identical
    * upstream re-scan does not make the range EXCHANGE re-execute
    * identically, because RangePartitioner seeds its reservoir sampler
    * with `byteswap32(idx ^ (rdd.id << 16))` and the counts job and
    * the output job plan separate RDD DAGs with different `rdd.id`s —
    * range bounds (hence `spark_partition_id` assignment) can diverge
    * once partitions exceed the reservoir, silently corrupting the
    * driver-side prefix offsets. Small-data tests cannot catch it (the
    * reservoir holds whole partitions), so the materialization is
    * unconditional. */
  private def pinPartitionSpace(shaped: DataFrame): DataFrame =
    shaped.transform(Materialize.once(_))

  /** Deterministic TOKEN-BUDGET corpus selection: take documents in
    * hash-priority order (uniform-random but reproducible) until the
    * running `countCol` total fills `budget` — "give me ~10B tokens of
    * this corpus, the same 10B every run". Keeps rows whose cumulative
    * total (inclusive) stays ≤ budget, so the budget is a hard ceiling;
    * the boundary-straddling document is excluded ([[nextFitPackExact]]'s
    * convention, not [[nextFitPack]]'s overshoot).
    *
    * `shardCol = Some(s)`: the budget applies PER SHARD (divide the
    * global budget across shards caller-side) via one ordered window
    * per shard — shards are the parallel unit, exactly the packing
    * contract.
    *
    * `shardCol = None` (global): the cumulative prefix is NOT computed
    * by a single-partition window (the corpus through one task — the
    * 100 TB killer). Two-pass shape with a DETERMINISTIC selection-order
    * bucket: pid = the first 8 hex chars of the md5 priority scaled to
    * [0, numShufflePartitions) — a pure ROW-VALUE function, so bucket p's
    * rows all precede bucket p+1's in (prio, id) order (md5 hex is
    * fixed-width lowercase: numeric prefix order == lexicographic
    * order) and the buckets are uniform by construction with no
    * sampling pass. One combiner-reduced per-bucket token-sum job
    * (numPartitions longs collected), then driver-side prefix offsets
    * classify every bucket — buckets strictly inside the budget keep
    * every row with NO per-row cumsum and NO shuffle at all, buckets
    * past it are filtered out map-side, and only the single
    * boundary-straddling bucket runs an ordered cumsum (a
    * hash-exchange of that bucket alone, ~1/numPartitions of the data,
    * spill-safe WindowExec). Value-identical to the one-window form:
    * exact prefix sums make bucket-boundary placement irrelevant.
    * Because pid is a row-value function, NO exchange determinism is
    * assumed and NOTHING is materialized — re-executions of any
    * value-stable upstream reproduce the buckets exactly (a
    * nondeterministic upstream is value-pinned by materializing once).
    * NOT a pure lazy plan in global mode — the counts job runs at call
    * time. */
  def tokenBudgetSample(df: DataFrame, idCol: String, countCol: String,
      budget: Long, shardCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget must be > 0 (got $budget)")
    val prio = md5(concat(col(idCol).cast("string"), lit("#budget")))
    shardCol match {
      case Some(s) =>
        val w = Window.partitionBy(s)
          .orderBy(prio, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("__cum", sum(col(countCol)).over(w))
          .filter(col("__cum") <= budget)
          .drop("__cum")
      case None =>
        val cols = df.columns.toSeq
        val prioCol = AddRowIndex.resolveUniqueName("__prio", cols)
        val pidCol = AddRowIndex.resolveUniqueName("__pid", cols :+ prioCol)
        val cumCol = AddRowIndex.resolveUniqueName("__cum", cols :+ prioCol :+ pidCol)
        // integral counts (the token-count reality) do the driver-side
        // prefix arithmetic in exact Long; fractional columns fall back
        // to Double — no worse than the one-window form, whose single
        // float cumsum was already order-rounded
        val integral = df.schema(countCol).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        val nParts = numRangeParts(df).toLong
        // null idCol → null prio, which the (prio, id) window order
        // places FIRST (asc nulls-first) — bucket 0 keeps that contract
        val base = if (valueStable(df)) df else Materialize.once(df)
        val snap = base.withColumn(prioCol, prio)
          .withColumn(pidCol, coalesce(
            shiftright(conv(substring(col(prioCol), 1, 8), 16, 10)
              .cast("long") * nParts, 32).cast("int"),
            lit(0)))
        val raw = snap.groupBy(col(pidCol)).agg(sum(col(countCol)).as(cumCol))
          .collect().map(r => r.getInt(0) -> r.get(1)).toMap
        def asL(a: Any): Long = a match {
          case null => 0L
          case n: java.lang.Number => n.longValue()
        }
        def asD(a: Any): Double = a match {
          case null => 0.0
          case d: java.math.BigDecimal => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }
        val sumsL: Map[Int, Long] =
          if (integral) raw.map { case (k, v) => k -> asL(v) } else Map.empty
        val sums: Map[Int, Double] =
          if (integral) Map.empty else raw.map { case (k, v) => k -> asD(v) }
        val maxPid = if (raw.isEmpty) -1 else raw.keys.max
        // prefix(p) = tokens before partition p; empty pids contribute 0.
        // cut = first pid whose rows can overflow the budget
        var cut = -1
        if (integral) {
          var acc = 0L; var p = 0
          while (p <= maxPid && cut < 0) {
            val s = sumsL.getOrElse(p, 0L)
            if (acc + s > budget) cut = p else acc += s
            p += 1
          }
        } else {
          var acc = 0.0; var p = 0
          while (p <= maxPid && cut < 0) {
            val s = sums.getOrElse(p, 0.0)
            if (acc + s > budget.toDouble) cut = p else acc += s
            p += 1
          }
        }
        val out =
          if (cut < 0) snap // total <= budget: every row survives, no cumsum anywhere
          else {
            val cutPrefix: Column =
              if (integral) lit((0 until cut).map(sumsL.getOrElse(_, 0L)).sum)
              else lit((0 until cut).map(sums.getOrElse(_, 0.0)).sum)
            val keepAll = snap.filter(col(pidCol) < cut)
            // ordered cumsum over the ONE boundary partition (window
            // keyed by pid — never an empty partitionBy)
            val w = Window.partitionBy(col(pidCol))
              .orderBy(col(prioCol), col(idCol))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val boundary = snap.filter(col(pidCol) === cut)
              .withColumn(cumCol, sum(col(countCol)).over(w))
              .filter(col(cumCol) + cutPrefix <= budget)
              .drop(cumCol)
            keepAll.union(boundary)
          }
        out.select(cols.map(col): _*)
    }
  }

  /** Cumulative budget packing: stream documents in `orderCol` order;
    * `pack_id` = whole budgets the running token total has filled.
    * APPROXIMATION: a document straddling a budget boundary lets the next
    * pack accumulate up to ~2× budget — use [[nextFitPackExact]] when the
    * budget is a hard ceiling. The upside is a pure windowed expression
    * (SQL-expressible, oracle-checkable).
    *
    * Scale shape: with `shardCol` the window partitions by shard (the
    * parallel unit). WITHOUT it the global cumulative sum is computed
    * by the same two-pass range-partition machinery as global
    * [[tokenBudgetSample]] — range-partition by `orderCol`, one
    * per-partition sum job, broadcast prefix offsets re-entering the
    * plan as an array literal, and a per-PARTITION ordered window (pid
    * key — every partition cumsums in parallel; global cum = partition
    * prefix + local cum). No single-partition window anywhere.
    * Value-identical: prefix sums are exact, so partition boundaries
    * don't move pack edges. NOT a pure lazy plan in global mode (the
    * counts job runs at call time; the range-partitioned frame is
    * ALWAYS materialized once to pin the partition space — unlike
    * [[tokenBudgetSample]], `orderCol` is an arbitrary user column
    * with no analytic bucketing, and the range exchange itself is not
    * re-execution-deterministic: see [[pinPartitionSpace]]). */
  def nextFitPack(df: DataFrame, countCol: String, orderCol: String,
      budget: Long, shardCol: Option[String] = None): DataFrame = {
    shardCol match {
      case Some(s) =>
        val w = Window.partitionBy(s)
          .orderBy(col(orderCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("__cum", sum(col(countCol)).over(w))
          .withColumn("pack_id", ceil(col("__cum") / lit(budget.toDouble)).cast("long") - 1)
          .drop("__cum")
      case None =>
        val cols = df.columns.toSeq
        val pidCol = AddRowIndex.resolveUniqueName("__pid", cols)
        val cumCol = AddRowIndex.resolveUniqueName("__cum", cols :+ pidCol)
        val integral = df.schema(countCol).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        // equal orderCol keys always land in ONE range partition, so
        // tie order stays exactly as (non)deterministic as the
        // one-window form
        val snap = pinPartitionSpace(
          df.repartitionByRange(numRangeParts(df), col(orderCol))
            .withColumn(pidCol, spark_partition_id()))
        val raw = snap.groupBy(col(pidCol)).agg(sum(col(countCol)).as(cumCol))
          .collect().map(r => r.getInt(0) -> r.get(1)).toMap
        def asL(a: Any): Long = a match {
          case null => 0L
          case n: java.lang.Number => n.longValue()
        }
        def asD(a: Any): Double = a match {
          case null => 0.0
          case d: java.math.BigDecimal => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }
        val maxPid = if (raw.isEmpty) -1 else raw.keys.max
        val w = Window.partitionBy(col(pidCol))
          .orderBy(col(orderCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // prefix(p) = tokens before partition p, an exact driver-side
        // scan re-entering the plan as one array literal (the
        // AddRowIndex shape — numPartitions scalars in the task binary)
        val globalCum: Column =
          if (integral) {
            val prefix = new Array[Long](maxPid + 1)
            var acc = 0L
            for (p <- 0 to maxPid) { prefix(p) = acc; acc += asL(raw.getOrElse(p, null)) }
            sum(col(countCol)).over(w) +
              element_at(typedlit(prefix.toSeq), col(pidCol) + 1)
          } else {
            val prefix = new Array[Double](maxPid + 1)
            var acc = 0.0
            for (p <- 0 to maxPid) { prefix(p) = acc; acc += asD(raw.getOrElse(p, null)) }
            sum(col(countCol)).over(w) +
              element_at(typedlit(prefix.toSeq), col(pidCol) + 1)
          }
        snap.withColumn(cumCol, globalCum)
          .withColumn("pack_id", ceil(col(cumCol) / lit(budget.toDouble)).cast("long") - 1)
          .select((cols :+ "pack_id").map(col): _*)
    }
  }

  /** TRUE next-fit packing: a new pack opens exactly when adding the next
    * document would exceed `budget`, so no pack exceeds it (oversized
    * single documents get a pack of their own). Sequential within each
    * shard; shards are the parallelism unit, matching how context-window
    * packing is sharded in practice.
    *
    * Spill-safe shape: shuffle by shard, then `sortWithinPartitions`
    * (Spark's EXTERNAL sort — spills to disk) and ONE streaming iterator
    * pass that resets its pack counter at shard boundaries. No task ever
    * materializes a shard in memory, so a skewed giant shard degrades to
    * disk instead of an executor OOM (the previous flatMapGroups
    * formulation buffered-and-sorted the whole shard in one task). */
  def nextFitPackExact(df: DataFrame, countCol: String, orderCol: String,
      budget: Long, shardCol: String): DataFrame = {
    import df.sparkSession.implicits._
    val rows = df.select(col(shardCol).cast("string").as("shard"),
      col(orderCol).cast("long").as("ord"), col(countCol).cast("long").as("cnt"))
      .as[(String, Long, Long)]
    // NB: the Dataset's columns keep their aliased NAMES (shard/ord/cnt)
    // — a positional col("_1") here can silently resolve to a hidden
    // upstream attribute of the caller's frame and repartition by the
    // wrong key entirely
    rows.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("ord"))
      .mapPartitions { it =>
        // rows arrive grouped by shard (hash-partitioned) and ord-sorted
        // within each shard; a partition may carry MANY shards back to
        // back, so state resets when the shard key changes
        var started = false
        var curShard: String = null
        var pack = 0L
        var used = 0L
        it.map { case (shard, ord, cnt) =>
          if (!started || !java.util.Objects.equals(shard, curShard)) {
            started = true; curShard = shard; pack = 0L; used = 0L
          }
          if (used > 0L && used + cnt > budget) { pack += 1; used = 0L }
          used += cnt
          (shard, ord, cnt, pack)
        }
      }
      .toDF(shardCol, orderCol, countCol, "pack_id")
  }
}
