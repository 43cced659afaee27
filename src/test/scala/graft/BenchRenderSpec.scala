package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness records only the last ~2000 chars of stdout; the
  * canonical JSON line must fit under that cap or the recorded artifact
  * carries `parsed:null` (as BENCH_r04/r05 did). These tests pin the
  * shedding behavior of [[Bench.render]] against the REAL query-name
  * set, so adding queries can never silently push the line back over
  * the cap. */
class BenchRenderSpec extends AnyFunSuite {

  private def results(times: Map[String, Double]): Seq[Bench.QueryResult] =
    times.toSeq.sorted.map { case (k, v) =>
      Bench.QueryResult(k, v, v >= 0, if (v >= 0) 0 else 1, 0.0, 1) }

  private def parse(s: String): JValue = JsonMethods.parse(s)

  test("render carries the box-factor control when measured, omits it otherwise") {
    val r = Seq(Bench.QueryResult("q1_agg", 1.0, true, 0, 0.0, 1))
    val (full, out) = Bench.render(r, "/tmp/sf0.1", Map.empty, 1750,
      controlSec = 4.5, diskMbps = 412.3)
    for (s <- Seq(full, out)) {
      val j = parse(s)
      assert((j \ "control_sec") == JDouble(4.5), s)
      val bf = (j \ "box_factor").asInstanceOf[JDouble].num
      assert(math.abs(bf - 4.5 / Bench.ControlRefSec) < 0.01, s"box_factor $bf")
      assert((j \ "disk_mbps") == JInt(412) || (j \ "disk_mbps") == JDouble(412), s)
    }
    // absent when the caller didn't measure one (unit renders, old paths)
    val (f2, o2) = Bench.render(r, "/tmp/sf0.1")
    assert(!f2.contains("control_sec") && !o2.contains("box_factor") &&
      !f2.contains("disk_mbps"))
  }

  test("adaptiveTrigger: 2x on healthy/fast/unmeasured boxes, 2/factor floored at 1.5 on degraded ones") {
    // healthy-day behavior untouched: the trigger never leaves 2x for
    // factor <= 1 (fast box must NOT re-measure more aggressively) or
    // when the control wasn't measured
    assert(Bench.adaptiveTrigger(1.0) == 2.0)
    assert(Bench.adaptiveTrigger(0.7) == 2.0)
    assert(Bench.adaptiveTrigger(0.0) == 2.0)
    assert(Bench.adaptiveTrigger(-1.0) == 2.0)
    // degraded box: the 2x flag line in box-factor units
    assert(math.abs(Bench.adaptiveTrigger(1.6) - 1.25) > 0.2) // floored, not 2/1.6
    assert(Bench.adaptiveTrigger(1.6) == 1.5)
    assert(math.abs(Bench.adaptiveTrigger(1.25) - 1.6) < 1e-9)
    assert(Bench.adaptiveTrigger(1.72) == 1.5)
    assert(Bench.adaptiveTrigger(4.0) == 1.5) // floor holds on a very sick box
    // continuity at the healthy boundary
    assert(math.abs(Bench.adaptiveTrigger(1.0 + 1e-12) - 2.0) < 1e-6)
  }

  test("real query set at realistic timings: stdout line fits the tail cap and parses") {
    // worst realistic case: every one of the real queries present, each
    // with a 3-decimal sub-10s timing
    val names = SparkEntry.queries.keySet.toSeq.sorted
    val times = names.zipWithIndex.map { case (n, i) => n -> (0.1 + (i % 40) * 0.25) }.toMap
    val (full, out) = Bench.render(results(times), "/root/testdata/sf0.1")
    assert(out.length <= 1750, s"stdout line ${out.length} chars exceeds the tail budget")
    val j = parse(out)
    val kept = (j \ "queries").asInstanceOf[JObject].obj.length
    val omitted = (j \ "queries_omitted") match {
      case JInt(n) => n.toInt
      case JNothing => 0
      case other => fail(s"unexpected queries_omitted: $other")
    }
    assert(kept + omitted == names.length)
    // the omitted seconds + kept seconds reconstruct the total
    val keptSec = (j \ "queries").asInstanceOf[JObject].obj
      .map(_._2.asInstanceOf[JDouble].num).sum
    val omittedSec = (j \ "omitted_sec") match {
      case JDouble(d) => d; case JInt(n) => n.toDouble; case JNothing => 0.0
      case other => fail(s"unexpected omitted_sec: $other")
    }
    val total = (j \ "value").asInstanceOf[JDouble].num
    assert(math.abs(keptSec + omittedSec - total) < 0.01 * names.length,
      "kept + omitted seconds must reconstruct the total within rounding")
    // shedding keeps the SLOWEST queries: the minimum kept time must be
    // >= the maximum omitted time
    if (omitted > 0) {
      val keptNames = (j \ "queries").asInstanceOf[JObject].obj.map(_._1).toSet
      val omittedTimes = times.filterNot { case (k, _) => keptNames(k) }.values
      val keptTimes = times.filter { case (k, _) => keptNames(k) }.values
      assert(keptTimes.min >= omittedTimes.max)
    }
    // the full line carries every query for the stderr/file record
    val fullKept = (parse(full) \ "queries").asInstanceOf[JObject].obj.length
    assert(fullKept == names.length)
  }

  test("small result set: stdout line is the full line, no omission fields") {
    val (full, out) = Bench.render(
      results(Map("q1_agg" -> 1.234567, "t6_row_index" -> 0.5)), "/x")
    assert(full == out)
    val j = parse(out)
    assert(j \ "queries_omitted" == JNothing)
    assert((j \ "queries" \ "q1_agg").asInstanceOf[JDouble].num == 1.235)
  }

  test("failed query reports -1 and lands in failed[]") {
    val (_, out) = Bench.render(results(Map("good" -> 1.0, "bad" -> -1.0)), "/x")
    val j = parse(out)
    assert((j \ "queries" \ "bad").asInstanceOf[JInt].num.toInt == -1)
    assert((j \ "failed").asInstanceOf[JArray].arr == List(JString("bad")))
    // a failed query must not pollute the total
    assert((j \ "value").asInstanceOf[JDouble].num == 1.0)
  }

  test("mass-failure run: failed[] is capped so the line still fits the tail budget") {
    val names = (1 to 96).map(i => f"query_with_a_rather_long_name_$i%02d")
    val times = names.map(_ -> -1.0).toMap
    val (_, out) = Bench.render(results(times), "/root/testdata/sf0.1")
    assert(out.length <= 1750, s"mass-failure line ${out.length} chars exceeds the tail budget")
    val j = parse(out)
    assert((j \ "failed").asInstanceOf[JArray].arr.length == 16)
    assert((j \ "failed_total").asInstanceOf[JInt].num.toInt == 96)
  }

  test("mass-flaky run: flaky{} is capped and flaky_total carries the true count") {
    val names = (1 to 40).map(i => f"query_with_a_rather_long_name_$i%02d")
    // passed overall (median positive) but with failed repeats → flaky
    val res = names.map(n => Bench.QueryResult(n, 1.0, true, 1, 0.0, 1))
    val (_, out) = Bench.render(res, "/x")
    val j = parse(out)
    assert((j \ "flaky").asInstanceOf[JObject].obj.length == 16)
    assert((j \ "flaky_total").asInstanceOf[JInt].num.toInt == 40)
    // under the cap: no flaky_total emitted
    val (_, small) = Bench.render(
      names.take(3).map(n => Bench.QueryResult(n, 1.0, true, 1, 0.0, 1)), "/x")
    assert((parse(small) \ "flaky_total") == JNothing)
  }

  test("values render locale-independently (dot decimal separator)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma-decimal locale
      val (_, out) = Bench.render(results(Map("q1_agg" -> 1.234567)), "/x")
      val j = parse(out)
      assert((j \ "queries" \ "q1_agg").asInstanceOf[JDouble].num == 1.235)
    } finally java.util.Locale.setDefault(prev)
  }

  test("parseAnchorsJson: sf-labeled records; wrong-scale entries excluded") {
    val json =
      """{
        |  "q1_agg": {"sf": "0.1", "sec": 1.03, "date": "2026-08-14"},
        |  "dedup_minhash": {"sf": "0.1", "sec": 2.94, "date": "2026-08-14"},
        |  "q35_range_join": {"sf": "10", "sec": 5.2, "date": "2026-08-14"}
        |}""".stripMargin
    // the sf10-labeled anchor must NOT reach the sf0.1 gate — the exact
    // poisoning the markdown convention allowed in round 9
    assert(Bench.parseAnchorsJson(json, "0.1") ==
      Map("q1_agg" -> 1.03, "dedup_minhash" -> 2.94))
    assert(Bench.parseAnchorsJson(json, "10") == Map("q35_range_join" -> 5.2))
  }

  test("sfLabelOf: anchors follow the run's own scale factor (r12)") {
    assert(Bench.sfLabelOf("/root/testdata/sf0.1") == Some("0.1"))
    assert(Bench.sfLabelOf("/root/testdata/sf0.1/") == Some("0.1"))
    assert(Bench.sfLabelOf("/tmp/sf10") == Some("10"))
    assert(Bench.sfLabelOf("/tmp/sf1.0") == Some("1.0"))
    // a dir that doesn't spell its scale gets NO anchors, never
    // wrong-scale ones
    assert(Bench.sfLabelOf("/tmp/mydata") == None)
    assert(Bench.sfLabelOf("/tmp/sf") == None)
  }

  test("the real ANCHORS.json loads, covers the bench set, names only real queries") {
    val p = java.nio.file.Paths.get("ANCHORS.json")
    assume(java.nio.file.Files.isReadable(p))
    val a = Bench.parseAnchorsJson(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), "0.1")
    val unknown = a.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"anchors for non-queries: $unknown")
    assert(a.size >= 90, s"expected >=90 anchors, parsed ${a.size}")
    assert(Bench.loadAnchors("0.1") == a)
    // round-12: the file also carries sf10 records for the
    // scale-sensitive gates; they resolve at sf "10" and never bleed
    // into the sf0.1 gate
    val sf10 = Bench.parseAnchorsJson(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), "10")
    assert(sf10.size >= 20, s"expected >=20 sf10 anchors, parsed ${sf10.size}")
    assert((sf10.keySet -- SparkEntry.queries.keySet).isEmpty)
    // aggregate distinctness: a wholesale copy of one scale's numbers
    // into the other must fail, but a single gate legitimately landing
    // on the same rounded seconds at both scales must not (3-decimal
    // values recur across the file)
    val shared10 = (a.keySet & sf10.keySet).toSeq
    assert(shared10.count(k => a(k) != sf10(k)) >= (shared10.size * 0.9).toInt,
      "sf10 records must be distinct measurements, not copies of sf0.1")
    // ADVICE r16: the >=90% rule alone would admit a near-wholesale
    // copy; the shared-key TOTALS differing keeps that detection strong
    // (scales differ by ~10x, so equal totals mean copied numbers)
    assert(math.abs(shared10.map(a).sum - shared10.map(sf10).sum) > 1.0,
      "sf10 shared-key total must differ materially from sf0.1's")
    assert(Bench.loadAnchors("10") == sf10)
  }

  test("sf100 anchors: probe set parses, scopes to sf100, and re-gates the r14 defect") {
    // round-14 verdict item 2: the sf100 probe becomes a standing gate.
    // The seeded section must (a) parse at sf "100" only, (b) cover the
    // probed families, and (c) actually catch the round-14 defect class:
    // a re-broken simhash auto-banding threshold sent the gate from
    // 271 s to DNF/disk-exhaustion — either shape (failure, or a >2x
    // wall) must turn the artifact red against these anchors.
    val p = java.nio.file.Paths.get("ANCHORS.json")
    assume(java.nio.file.Files.isReadable(p))
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val sf100 = Bench.parseAnchorsJson(txt, "100")
    assert(sf100.size >= 15, s"expected >=15 sf100 anchors, parsed ${sf100.size}")
    assert((sf100.keySet -- SparkEntry.queries.keySet).isEmpty,
      s"sf100 anchors for non-queries: ${sf100.keySet -- SparkEntry.queries.keySet}")
    assert(sf100.contains("dedup_simhash"), "the r14 defect's gate must be anchored")
    // sf100 records never bleed into other scales' gates
    // aggregate, not per-key (same rationale as the sf10 check above)
    val sf01 = Bench.parseAnchorsJson(txt, "0.1")
    val shared100 = (sf01.keySet & sf100.keySet).toSeq
    assert(shared100.count(k => sf01(k) != sf100(k)) >= (shared100.size * 0.9).toInt,
      "sf100 records must be distinct measurements, not copies of sf0.1")
    // ADVICE r16: totals must differ too (see the sf10 check above)
    assert(math.abs(shared100.map(sf01).sum - shared100.map(sf100).sum) > 1.0,
      "sf100 shared-key total must differ materially from sf0.1's")
    assert(Bench.loadAnchors("100") == sf100)
    // negative control: replay the round-14 simhash regression (the
    // (4,1) quadratic candidate join — observed as a DNF; modelled here
    // as both a failure and a 10x wall) against the real anchors
    val broken = Seq(
      Bench.QueryResult("dedup_simhash", sf100("dedup_simhash") * 10.0, true, 0, 0.0, 1))
    val (_, out) = Bench.render(broken, "/tmp/sf100", sf100)
    val j = parse(out)
    assert((j \ "flagged").asInstanceOf[JObject].obj.map(_._1) == List("dedup_simhash"),
      "a 10x dedup_simhash wall must be flagged against the sf100 anchors")
    val dnf = Seq(Bench.QueryResult("dedup_simhash", -1.0, false, 1, 0.0, 1))
    val (_, out2) = Bench.render(dnf, "/tmp/sf100", sf100)
    assert((parse(out2) \ "failed").asInstanceOf[JArray].arr.nonEmpty,
      "a DNF dedup_simhash must land in failed")
  }

  test("flagged carries queries over 2x anchor with their ratio; others excluded") {
    val res = Seq(
      Bench.QueryResult("slow_q", 3.0, true, 0, 0.0, 3),   // 3x anchor → flagged
      Bench.QueryResult("fine_q", 1.5, true, 0, 0.0, 1),   // 1.5x → not flagged
      Bench.QueryResult("new_q", 9.0, true, 0, 0.0, 1),    // no anchor → not flagged
      Bench.QueryResult("dead_q", -1.0, false, 1, 0.0, 1)) // failed → not flagged
    val anchors = Map("slow_q" -> 1.0, "fine_q" -> 1.0, "dead_q" -> 1.0)
    val (_, out) = Bench.render(res, "/x", anchors)
    val j = parse(out)
    assert((j \ "flagged" \ "slow_q").asInstanceOf[JDouble].num == 3.0)
    assert((j \ "flagged").asInstanceOf[JObject].obj.map(_._1) == List("slow_q"))
    assert((j \ "reruns").asInstanceOf[JInt].num.toInt == 1)
    // no disk measurement → no degradation label
    assert((j \ "disk_degraded") == JNothing)
  }

  test("disk_degraded labels flags measured on a degraded-disk box, and only then") {
    val res = Seq(Bench.QueryResult("slow_q", 3.0, true, 0, 0.0, 3))
    val anchors = Map("slow_q" -> 1.0)
    // flags + degraded disk (round-16 measured 9-22 MB/s) → labeled
    val (_, degraded) = Bench.render(res, "/x", anchors, diskMbps = 22.0)
    assert((parse(degraded) \ "disk_degraded").asInstanceOf[JBool].value,
      degraded)
    // flags + healthy disk (round-17 box: 144) → no label
    val (_, healthy) = Bench.render(res, "/x", anchors, diskMbps = 144.0)
    assert((parse(healthy) \ "disk_degraded") == JNothing, healthy)
    // degraded disk but nothing flagged → no label (the rule only
    // adjudicates flags; a clean run needs no asterisk)
    val clean = Seq(Bench.QueryResult("fine_q", 1.5, true, 0, 0.0, 1))
    val (_, cleanOut) = Bench.render(clean, "/x", Map("fine_q" -> 1.0),
      diskMbps = 22.0)
    assert((parse(cleanOut) \ "disk_degraded") == JNothing, cleanOut)
  }

  test("disk_mbps_end is recorded and the WORST endpoint governs the degraded label") {
    // the round-17 sf100 sweep: 452 MB/s at start, <=11 within the
    // hour — late-gate flags must be labeled even though the start
    // probe was healthy
    val res = Seq(Bench.QueryResult("slow_q", 3.0, true, 0, 0.0, 3))
    val anchors = Map("slow_q" -> 1.0)
    val (full, out) = Bench.render(res, "/x", anchors,
      diskMbps = 452.0, diskMbpsEnd = 11.0)
    for (s <- Seq(full, out)) {
      val j = parse(s)
      assert((j \ "disk_mbps_end") == JInt(11) || (j \ "disk_mbps_end") == JDouble(11), s)
      assert((j \ "disk_degraded").asInstanceOf[JBool].value,
        "degraded END endpoint must label the run's flags")
    }
    // both endpoints healthy → no label, end value still recorded
    val (_, healthy) = Bench.render(res, "/x", anchors,
      diskMbps = 452.0, diskMbpsEnd = 380.0)
    val hj = parse(healthy)
    assert((hj \ "disk_mbps_end") == JInt(380) || (hj \ "disk_mbps_end") == JDouble(380))
    assert((hj \ "disk_degraded") == JNothing, healthy)
    // end probe not measured (old callers) → field absent, start governs
    val (_, startOnly) = Bench.render(res, "/x", anchors, diskMbps = 22.0)
    assert(!startOnly.contains("disk_mbps_end"))
    assert((parse(startOnly) \ "disk_degraded").asInstanceOf[JBool].value)
  }

  test("stdout carries build_sec for the persisted-index gates; full line for all") {
    val res = Seq(
      Bench.QueryResult("ann_ivfpq_index_topk", 5.0, true, 0, 3.2, 1),
      Bench.QueryResult("q1_agg", 1.0, true, 0, 0.4, 1))
    val (full, out) = Bench.render(res, "/x")
    val jo = parse(out)
    assert((jo \ "build" \ "ann_ivfpq_index_topk").asInstanceOf[JDouble].num == 3.2)
    assert((jo \ "build" \ "q1_agg") == JNothing)
    val jf = parse(full)
    assert((jf \ "build" \ "q1_agg").asInstanceOf[JDouble].num == 0.4)
  }

  test("shedding never loops forever even with an absurdly small budget") {
    val names = (1 to 50).map(i => f"query_with_a_rather_long_name_$i%02d")
    val times = names.map(_ -> 1.0).toMap
    val (_, out) = Bench.render(results(times), "/x", budget = 10)
    // every query shed; the skeleton line still parses
    val j = parse(out)
    assert((j \ "queries_omitted").asInstanceOf[JInt].num.toInt == 50)
  }

  // ---- blip defense (round-14: retry-once-on-infra-exception) --------

  test("injected infra fault: one IOException run is retried, excused, and recorded") {
    // the round-13 sf10 sweep class: a transient fs error fails the
    // only sample of an alphabetical-tail gate. With the defense the
    // gate retries once, passes, and the artifact shows ok + flaky + a
    // rerun instead of a missing gate.
    var calls = 0
    val (samples, excused) = Bench.collectSamples("g", repeat = 1, () => {
      calls += 1
      if (calls == 1)
        Bench.RunSample(-1.0, -1.0, Some(new java.io.IOException("Connection reset by peer")))
      else Bench.RunSample(2.0, 0.0)
    })
    assert(calls == 2 && samples.length == 2 && excused == 1)
    val r = Bench.summarize("g", samples, excused)
    assert(r.ok, "a successfully retried infra blip must not fail the gate")
    assert(r.sec == 2.0 && r.failedRuns == 1 && r.runs == 2)
    // artifact record: gate in queries (not failed[]), blip in flaky{},
    // rerun counted
    val (_, out) = Bench.render(Seq(r), "/x")
    val j = parse(out)
    assert((j \ "queries" \ "g").asInstanceOf[JDouble].num == 2.0)
    assert((j \ "failed").asInstanceOf[JArray].arr.isEmpty)
    assert((j \ "flaky" \ "g").asInstanceOf[JInt].num.toInt == 1)
    assert((j \ "reruns").asInstanceOf[JInt].num.toInt == 1)
  }

  test("deterministic failure is NOT retried; repeated infra failure stays failed") {
    // an in-query recall require / analysis error: retrying doubles the
    // time to a red artifact and can't change the outcome
    var detCalls = 0
    val (detSamples, detExcused) = Bench.collectSamples("det", repeat = 1, () => {
      detCalls += 1
      Bench.RunSample(-1.0, -1.0,
        Some(new IllegalArgumentException("recall@10 regressed")))
    })
    assert(detCalls == 1 && detSamples.length == 1 && detExcused == 0)
    assert(!Bench.summarize("det", detSamples, detExcused).ok)
    // infra-shaped but persistent (a real outage, not a blip): retried
    // once, still failing -> the failed retry is DISCARDED (the first
    // samples already record the failures), nothing excused, gate
    // fails loudly
    var infCalls = 0
    val (infSamples, infExcused) = Bench.collectSamples("inf", repeat = 1, () => {
      infCalls += 1
      Bench.RunSample(-1.0, -1.0, Some(new java.io.IOException("No space left on device")))
    })
    assert(infCalls == 2 && infSamples.length == 1 && infExcused == 0)
    assert(!Bench.summarize("inf", infSamples, infExcused).ok)
  }

  test("rescue never runs when the majority rule already passes") {
    // round-14 advice: 2 good + 1 infra fail of repeat=3 already passes
    // good*2 > considered — a retry that ALSO failed used to append an
    // unexcused sample and flip 4>3 (pass) into 4>4 (fail). The rescue
    // must not be able to turn a passing gate red.
    var calls = 0
    val (samples, excused) = Bench.collectSamples("g", repeat = 3, () => {
      calls += 1
      if (calls == 2)
        Bench.RunSample(-1.0, -1.0, Some(new java.io.IOException("Connection reset")))
      else Bench.RunSample(2.0, 0.0)
    })
    assert(calls == 3, "majority already passes - no retry should run")
    assert(samples.length == 3 && excused == 0)
    val r = Bench.summarize("g", samples, excused)
    assert(r.ok && r.failedRuns == 1)
  }

  test("deterministic IOException subtypes are not infra-shaped") {
    // a missing input file or truncated parquet stream fails
    // identically every run — retrying it can only hide a data bug as
    // flakiness (round-14 advice)
    assert(!Bench.isInfraException(new java.io.FileNotFoundException("/x/part-0.parquet")))
    assert(!Bench.isInfraException(new RuntimeException("read failed",
      new java.io.EOFException("Reached the end of stream with 93 bytes left to read"))))
    assert(!Bench.isInfraException(new java.nio.file.NoSuchFileException("/x/_SUCCESS")))
    // the broad IOException class stays retryable
    assert(Bench.isInfraException(new java.io.IOException("Connection reset by peer")))
  }

  test("re-anchor: update replaces only the run scale's measured gates") {
    // the scripted median-of-3 re-anchor mode (round-14 verdict item 5):
    // rewriting must touch ONLY (run-scale, measured-gate) records —
    // other scales and unmeasured gates survive verbatim, and the
    // rendered file stays readable by the legacy scale-filtered parser.
    val dir = java.nio.file.Files.createTempDirectory("graft_anchors_")
    val path = dir.resolve("ANCHORS.json")
    val initial = Seq(
      Bench.AnchorRec("q1_agg", "0.1", 1.5, "2026-08-01"),
      Bench.AnchorRec("q2_join", "0.1", 2.5, "2026-08-01"),
      Bench.AnchorRec("q1_agg", "10", 9.0, "2026-08-01"))
    java.nio.file.Files.write(path,
      Bench.renderAnchorsFile(initial).getBytes("UTF-8"))
    val n = Bench.updateAnchorsFile(path, "0.1",
      Map("q1_agg" -> 1.8, "q3_new" -> 0.4), "2026-08-15")
    assert(n == 2)
    val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val recs = Bench.parseAllAnchorRecs(txt)
      .map(r => (r.name, r.sf) -> r).toMap
    assert(recs(("q1_agg", "0.1")).sec == 1.8 &&
      recs(("q1_agg", "0.1")).date == "2026-08-15")
    assert(recs(("q2_join", "0.1")).sec == 2.5 &&
      recs(("q2_join", "0.1")).date == "2026-08-01",
      "unmeasured gate must survive verbatim")
    assert(recs(("q1_agg", "10")).sec == 9.0, "other scales must survive")
    assert(recs(("q3_new", "0.1")).sec == 0.4, "new gates are added")
    // compat: the scale-filtered reader Bench gates with still parses
    // both the top level and the sf10 section out of the rendered file
    assert(Bench.parseAnchorsJson(txt, "0.1") ==
      Map("q1_agg" -> 1.8, "q2_join" -> 2.5, "q3_new" -> 0.4))
    assert(Bench.parseAnchorsJson(txt, "10") == Map("q1_agg" -> 9.0))
    // idempotence: render(parse(render)) is byte-stable, so repeated
    // re-anchors diff only in sec/date
    assert(Bench.renderAnchorsFile(Bench.parseAllAnchorRecs(txt)) == txt)
    // and the file is well-formed JSON
    assert(parse(txt) != JNothing)
  }

  test("re-anchor: the REAL ANCHORS.json round-trips losslessly") {
    val p = java.nio.file.Paths.get("/root/repo/ANCHORS.json")
    assume(java.nio.file.Files.isReadable(p))
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val recs = Bench.parseAllAnchorRecs(txt)
    assert(recs.size >= 200, s"expected full coverage, parsed ${recs.size}")
    val rendered = Bench.renderAnchorsFile(recs)
    assert(Bench.parseAllAnchorRecs(rendered).toSet == recs.toSet)
    // per-scale views identical through the legacy reader
    for (sf <- recs.map(_.sf).distinct)
      assert(Bench.parseAnchorsJson(rendered, sf) == Bench.parseAnchorsJson(txt, sf))
  }

  test("isInfraException classifies wrapped causes and message shapes") {
    val wrapped = new RuntimeException("job aborted",
      new java.util.concurrent.TimeoutException("futures timed out"))
    assert(Bench.isInfraException(wrapped))
    assert(Bench.isInfraException(
      new RuntimeException("ExecutorLostFailure (executor 3 exited)")))
    assert(!Bench.isInfraException(
      new IllegalStateException("compaction merged nothing")))
    assert(!Bench.isInfraException(new NullPointerException()))
  }

  test("runControl pins its shuffle width and restores the session conf") {
    // the control must read the BOX, not the protocol: a control that
    // inherits the sweep's shuffle-partition conf varies with the
    // protocol under measure (round 17)
    val key = "spark.sql.shuffle.partitions"
    val spark = GraftSession.withConf(SparkTestSession.spark.emptyDataFrame, key -> "7")
      .sparkSession
    val sec = Bench.runControl(spark, rows = 1000L)
    assert(sec > 0)
    assert(spark.conf.get(key) == "7",
      "control must leave the caller's shuffle-partition conf as it was")
  }
}
