package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's adaptive-rep policy. BENCH_r09 recorded a 7.21 s
  * artifact value for an entry that re-measured at 0.45 s on zero-diff
  * code because BOTH reps were load-inflated past the old `min < 2 s`
  * gate and the stabilizer never fired — the policy must trigger on
  * rep disagreement at ANY magnitude.
  */
class BenchSpec extends AnyFunSuite {

  test("third rep fires on >1.5x disagreement at any magnitude") {
    // The r9 failure shape: a slow load-inflated pair still disagrees.
    assert(Bench.needsThirdRep(Seq(7.21, 3.5)))
    // Fast noisy pair (the original r8 motivation) still fires.
    assert(Bench.needsThirdRep(Seq(0.2, 0.45)))
    // Order-independent.
    assert(Bench.needsThirdRep(Seq(3.5, 7.21)))
  }

  test("agreeing reps never pay a third run") {
    // A genuinely slow entry has agreeing reps — no extra cost.
    assert(!Bench.needsThirdRep(Seq(10.0, 12.0)))
    assert(!Bench.needsThirdRep(Seq(0.30, 0.44)))
    assert(!Bench.needsThirdRep(Seq(1.0, 1.5)))
  }

  test("cross-round recheck fires on >1.5x the prior artifact value") {
    // The r10 failure shape: both reps inflated together (2.32 s for a
    // 0.33 s entry) — rep agreement is blind, the prior round is not.
    assert(Bench.needsPriorRecheck(2.32, Some(0.33)))
    assert(Bench.needsPriorRecheck(7.21, Some(0.45)))
    // The r11 blind window: 1.7-1.9x drift (q_string_quantiles 1.20 s
    // vs a 0.64 s prior; judge re-run 0.46 s) must now re-rep.
    assert(Bench.needsPriorRecheck(1.20, Some(0.64)))
    assert(Bench.needsPriorRecheck(1.62, Some(0.96)))
    // Within 1.5x of the prior: believed without extra reps.
    assert(!Bench.needsPriorRecheck(0.45, Some(0.33)))
    // Microscopic entries never re-rep (1.5x of 20 ms is jitter).
    assert(!Bench.needsPriorRecheck(0.06, Some(0.02)))
    // No prior value (new entry / truncated fast tail): never.
    assert(!Bench.needsPriorRecheck(9.99, None))
  }

  test("artifact line carries sentinel + rep evidence and stays parseable") {
    val results = Seq("q_a" -> 3.421, "q_b" -> 0.334, "q_c" -> 0.051)
    val line = Bench.artifactLine(results,
      sentinel = Seq(0.0501, 0.0512, 0.0498),
      scanSentinel = Seq(0.210, 0.215, 0.202),
      parSentinel = Seq(0.330, 0.341, 0.328),
      repsUsed = Map("q_a" -> 2, "q_b" -> 4, "q_c" -> 3),
      rechecked = Set("q_b"),
      repsDefault = 2, sfTag = "sf0.1", cpus = 32,
      storesWarm = 3, coldStores = Seq("fp-~-doc_id-text-k64-b16-n5"))
    // The self-adjudication fields (round-12 verdict item 1): the raw
    // CPU and scan sentinel triples, the rep-count histogram over all
    // entries, and per-entry detail for the cross-round-distrusted set.
    assert(line.contains(""""sentinel":[0.050,0.051,0.050]"""))
    assert(line.contains(""""scan_sentinel":[0.210,0.215,0.202]"""))
    assert(line.contains(""""par_sentinel":[0.330,0.341,0.328]"""))
    // Round-14: the artifact records the adjudicator's CONCLUSION, not
    // just the evidence — par max 0.341 > 1.5x the 0.20 healthy
    // constant at 32 cpus, both other channels flat.
    assert(line.contains(""""machine_condition":"par_cap""""))
    // Round-15: the par threshold is cpu-aware on both sides — the
    // artifact must record the cpu count so bench_adjudicate.py can
    // apply the same constant instead of guessing 32.
    assert(line.contains(""""cpus":32"""))
    // Round-15 (r14 verdict item 1): persisted-store warmth. `warm`
    // stores existed before the first timed entry; `cold` ones were
    // built DURING the run inside some entry's timed reps — the
    // cold-store tax a judge must be able to split from code speed.
    assert(line.contains(
      """"stores":{"warm":3,"cold_n":1,"cold":["fp-~-doc_id-text-k64-b16-n5"]}"""))
    assert(line.contains(""""reps_default":2"""))
    assert(line.contains(""""reps_hist":{"2":1,"3":1,"4":1}"""))
    assert(line.contains(""""rechecked_n":1"""))
    assert(line.contains(""""rechecked":{"q_b":4}"""))
    // The queries map still parses with the established parser (the
    // cross-round stabilizer reads LAST round's artifact — a format
    // change that broke it would kill the prior-recheck silently).
    assert(Bench.parsePriorArtifact(line) ===
      Map("q_a" -> 3.42, "q_b" -> 0.33, "q_c" -> 0.05))
    assert(line.contains(""""sf":"sf0.1""""))
  }

  test("artifact carries scan_seg boundaries and session-pin build seconds") {
    // Round-17 (r16 verdict item 2): session pins moved once-per-
    // session frame builds inside some entry's first timed rep, where
    // min-of-reps hides them from `value` — the artifact must record
    // the build seconds (the in-memory analog of the cold-store
    // field), and the io channel needs interleaved boundaries like the
    // par channel (the r16 scan sentinel doubled mid-run unseen).
    val line = Bench.artifactLine(Seq("q_a" -> 2.0, "q_b" -> 1.0),
      sentinel = Seq(0.05, 0.05, 0.05),
      scanSentinel = Seq(0.21, 0.21, 0.21),
      parSentinel = Seq(0.12, 0.12, 0.12),
      repsUsed = Map("q_a" -> 2, "q_b" -> 2), rechecked = Set.empty,
      repsDefault = 2, sfTag = "sf0.1", cpus = 32, storesWarm = 0,
      coldStores = Nil, parSeg = Seq(0.10, 0.10),
      scanSeg = Seq(0.21, 0.45),
      pins = Seq("mm-png-stats|~" -> 0.84, "graph-sym|~" -> 2.331,
        """evil"key""" -> 0.07))
    assert(line.contains(""""scan_seg":[0.210,0.450]"""))
    // Slowest-first, two-decimal values, true n/sum, escaped keys.
    assert(line.contains(""""pins":{"n":3,"sum":3.24,"top":{""" +
      """"graph-sym|~":2.33,"mm-png-stats|~":0.84,"evil\"key":0.07}}"""))
    // The io boundary drift lands in the recorded verdict too.
    assert(line.contains(""""machine_condition":"io_load""""))
    // The queries map still parses (cross-round stabilizer safety).
    assert(Bench.parsePriorArtifact(line) === Map("q_a" -> 2.0, "q_b" -> 1.0))
  }

  test("pin keys compact the dataset dir for the artifact budget") {
    // Pin keys embed the RAW dir (unlike store names, which sanitize).
    assert(Bench.compactPinName("mm-png-stats|/root/testdata/sf0.1",
      "/root/testdata/sf0.1") === "mm-png-stats|~")
    assert(Bench.compactPinName("no-dir-key", "/root/testdata/sf0.1")
      === "no-dir-key")
  }

  test("store names compact the dataset key for the artifact budget") {
    assert(Bench.compactStoreName(
      "fp-_root_testdata_sf0.1-doc_id-text-k64-b16-n5",
      "/root/testdata/sf0.1") === "fp-~-doc_id-text-k64-b16-n5")
    // A sibling-SF key (the cc-evolution rehearsal stores) folds its
    // shared parent dir instead of printing the whole sanitized path.
    assert(Bench.compactStoreName(
      "cc-_root_testdata_sf0.001_ccevo-doc_id-text-k32-b8-n3-t0.5-mb100",
      "/root/testdata/sf0.1")
      === "cc-~_sf0.001_ccevo-doc_id-text-k32-b8-n3-t0.5-mb100")
    // A name without either key passes through untouched.
    assert(Bench.compactStoreName("cc-other-k9", "/root/testdata/sf0.1")
      === "cc-other-k9")
  }

  test("machine-condition verdict mirrors the adjudicator's thresholds") {
    val flatCpu = Seq(0.065, 0.066, 0.065)
    val flatScan = Seq(0.30, 0.31, 0.30)
    val flatPar = Seq(0.12, 0.13, 0.12)
    // Three live flat channels → clear.
    assert(Bench.machineCondition(flatCpu, flatScan, flatPar,
      "sf0.1", 32) === "clear")
    // Within-run drift trips a channel even under its healthy absolute
    // level threshold (the r13 live observation: par 0.127→0.295).
    assert(Bench.machineCondition(flatCpu, flatScan,
      Seq(0.127, 0.295, 0.290), "sf0.1", 32) === "par_cap")
    // Absolute inflation on the CPU and scan channels.
    assert(Bench.machineCondition(Seq(0.15, 0.15, 0.15), flatScan, flatPar,
      "sf0.1", 32) === "cpu_load")
    assert(Bench.machineCondition(flatCpu, Seq(0.60, 0.61, 0.60), flatPar,
      "sf0.1", 32) === "io_load")
    // Compound causes join with '+' in channel order.
    assert(Bench.machineCondition(Seq(0.2, 0.2, 0.2), Seq(0.7, 0.7, 0.7),
      Seq(0.5, 0.5, 0.5), "sf0.1", 32) === "cpu_load+io_load+par_cap")
    // A dead probe (-1) is NOT healthy: 'clear' must mean three live
    // flat channels.
    assert(Bench.machineCondition(flatCpu, flatScan, Seq(0.12, -1.0, 0.12),
      "sf0.1", 32) === "par_dead")
    // The parallel healthy constant scales with the cpu count (the
    // skill's ~0.4 s-at-8-cpus reading must not read as a cap).
    assert(Bench.machineCondition(flatCpu, flatScan, Seq(0.42, 0.43, 0.42),
      "sf0.1", 8) === "clear")
    // Round-16: a mid-run cap that dodges the triple's probe points
    // still trips the verdict through the segment boundaries; dead
    // boundary probes are dropped rather than killing the channel.
    assert(Bench.machineCondition(flatCpu, flatScan, flatPar,
      "sf0.1", 32, parSeg = Seq(0.12, 0.31, 0.12)) === "par_cap")
    assert(Bench.machineCondition(flatCpu, flatScan, flatPar,
      "sf0.1", 32, parSeg = Seq(0.12, -1.0, 0.12)) === "clear")
    // Round-17: the io channel reads ITS interleaved boundaries the
    // same way (the r16 run's scan sentinel doubled between the
    // triple's probe points and the artifact's verdict missed it).
    assert(Bench.machineCondition(flatCpu, flatScan, flatPar,
      "sf0.1", 32, scanSeg = Seq(0.30, 0.65, 0.30)) === "io_load")
    assert(Bench.machineCondition(flatCpu, flatScan, flatPar,
      "sf0.1", 32, scanSeg = Seq(0.30, -1.0, 0.30)) === "clear")
    // Scan healthy constant is SF-aware: 0.41 s crosses sf0.01's
    // 0.25-healthy threshold but sits inside sf0.1's 0.35 one.
    assert(Bench.machineCondition(flatCpu, Seq(0.40, 0.41, 0.40), flatPar,
      "sf0.01", 32) === "io_load")
    assert(Bench.machineCondition(flatCpu, Seq(0.40, 0.41, 0.40), flatPar,
      "sf0.1", 32) === "clear")
  }

  test("normalized total scales each segment by its local par sentinel") {
    // Round-16 (verdict item 1): the par cap is self-induced, so the
    // raw total can never be flat-channel comparable on this box —
    // value_norm must carry the cap-robust reading by itself.
    // Two segments of 2 entries; boundaries [0.1, 0.1, 0.3]: segment 0
    // is flat at the best window (factor 1), segment 1's local mean is
    // 0.2 → its entries scale by 0.1/0.2 = 0.5.
    val t = Seq(1.0, 1.0, 4.0, 4.0)
    val norm = Bench.normalizedTotal(t, segSize = 2, Seq(0.1, 0.1, 0.3))
    assert(math.abs(norm - (2.0 + 8.0 * 0.5)) < 1e-9, s"norm=$norm")
    // A flat run normalizes to (almost exactly) the raw sum.
    assert(math.abs(Bench.normalizedTotal(t, 2, Seq(0.1, 0.1, 0.1))
      - t.sum) < 1e-9)
    // Normalization only DEFLATES toward the best window.
    assert(norm < t.sum)
    // No/insufficient live evidence → the raw sum, unscaled: a dead
    // probe (-1) is excluded, and a single live boundary is not a
    // ratio.
    assert(Bench.normalizedTotal(t, 2, Nil) === t.sum)
    assert(Bench.normalizedTotal(t, 2, Seq(-1.0, 0.2, -1.0)) === t.sum)
    // Dead middle boundary: its segments fall back to the live ends.
    val part = Bench.normalizedTotal(t, 2, Seq(0.1, -1.0, 0.2))
    assert(part > 0 && part <= t.sum)
  }

  test("artifact carries value_norm + par_seg; cold-store names are JSON-escaped") {
    val results = Seq("q_a" -> 2.0, "q_b" -> 1.0)
    val line = Bench.artifactLine(results,
      sentinel = Seq(0.05, 0.05, 0.05),
      scanSentinel = Seq(0.21, 0.21, 0.21),
      parSentinel = Seq(0.12, 0.12, 0.12),
      repsUsed = Map("q_a" -> 2, "q_b" -> 2), rechecked = Set.empty,
      repsDefault = 2, sfTag = "sf0.1", cpus = 32, storesWarm = 0,
      // A FOREIGN dir under the shared index root with a quote and a
      // backslash in its name (round-16 advice): the artifact must
      // stay one parseable JSON line.
      coldStores = Seq("""evil"name\with"quotes"""),
      parSeg = Seq(0.10, 0.10))
    assert(line.contains(""""value_norm":3.000"""))
    assert(line.contains(""""par_seg":[0.100,0.100]"""))
    // Round-17: absent inputs still print structurally-valid fields —
    // the artifact shape is constant whether or not evidence exists.
    assert(line.contains(""""scan_seg":[]"""))
    assert(line.contains(""""pins":{"n":0,"sum":0.00,"top":{}}"""))
    // The whole line must survive a strict JSON parse despite the
    // hostile store name (ujson-less check: the escaped name is there
    // and the queries map still parses).
    assert(line.contains("""evil\"name\\with\"quotes"""))
    assert(Bench.parsePriorArtifact(line) === Map("q_a" -> 2.0, "q_b" -> 1.0))
    // jsonStr escapes control chars too.
    assert(Bench.jsonStr("a\tb\nc") === "\"a\\u0009b\\u000ac\"")
  }

  test("artifact line stays under the 1900-char driver window at any surface size") {
    val many = (1 to 400).map(i => f"q_entry_number_$i%03d" -> (i / 100.0))
    // The r13 first-cut regression this pins: EVERY entry paying a
    // stabilizer rep (the sf0.01 warm-up shape) must not evict the
    // queries map from the budget — the histogram compresses it.
    val line = Bench.artifactLine(many, Seq(0.05, 0.05, 0.05),
      Seq(0.21, 0.22, 0.21), Seq(0.33, 0.34, 0.33),
      many.map(_._1 -> 3).toMap, many.map(_._1).toSet, 2, "sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    assert(line.contains(""""reps_hist":{"3":400}"""))
    // The recheck detail is capped; the true count survives.
    assert(line.contains(""""rechecked_n":400"""))
    // The queries map keeps a substantive slowest-first head.
    assert(Bench.parsePriorArtifact(line).size > 20)
    // Truncation is explicit: the dropped tail is counted and digested.
    assert(line.contains(""""dropped":"""))
    assert(!line.contains(""""dropped":0,"""))
    // Total covers EVERY entry, kept or dropped.
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(line)
      .get.group(1).toDouble
    assert(math.abs(total - many.map(_._2).sum) < 0.01)
  }

  test("sentinel kernel is deterministic work that an injected sustained load inflates") {
    // Saturate every core 2x over — the deliberate miniature of the
    // sustained external load that inflated BENCH_r10/r12 — and the
    // kernel must visibly slow: that sensitivity is what makes the
    // recorded [start, middle, end] triple adjudicable evidence.
    // Retried: if EXTERNAL load happens to saturate the machine during
    // the baseline phase, unloaded ≈ loaded and the ratio collapses —
    // that is the machine being busy, not the kernel being insensitive
    // (it bit exactly once on this box, at 1-min load average 9).
    Bench.sentinelKernel(); Bench.sentinelKernel() // JIT-compile
    def attempt(): Boolean = {
      val unloaded = (1 to 7).map(_ => Bench.sentinelKernel()).min
      assert(unloaded > 0.001,
        "kernel must do real work, or load cannot slow it measurably")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = (1 to Runtime.getRuntime.availableProcessors() * 2)
        .map { _ =>
          val t = new Thread(() => {
            var x = 12345L
            while (!stop.get()) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17 }
            Bench.sentinelBlackhole(x)
          })
          t.setDaemon(true); t.start(); t
        }
      val loaded =
        try (1 to 5).map(_ => Bench.sentinelKernel()).min
        finally { stop.set(true); threads.foreach(_.join(2000)) }
      loaded > 1.2 * unloaded
    }
    val ok = (1 to 3).exists(i => attempt() || { Thread.sleep(3000); false })
    assert(ok,
      "2x oversubscription must inflate the sentinel on at least one of " +
        "three attempts")
  }

  test("prior artifact parser reads only the queries map") {
    val line = """{"metric":"total","value":50.529,"unit":"sec",""" +
      """"queries":{"q_anomaly_mad":2.58,"q_multimodal_resize":2.32,""" +
      """"q1_agg":0.08},"dropped":3,"dropped_sum":0.21,"sf":"sf0.1"}"""
    val m = Bench.parsePriorArtifact(line)
    assert(m === Map("q_anomaly_mad" -> 2.58,
      "q_multimodal_resize" -> 2.32, "q1_agg" -> 0.08))
    // The envelope's own "value" pair must NOT parse as an entry.
    assert(!m.contains("value"))
    // Malformed text degrades to empty, never throws.
    assert(Bench.parsePriorArtifact("not json").isEmpty)
    assert(Bench.parsePriorArtifact("""{"queries":""").isEmpty)
  }

  test("prior artifact loader picks the newest round numerically") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
      try w.write(body) finally w.close()
    }
    // r2 vs r10: lexicographic order would pick r2 — numeric must win.
    write("BENCH_r2.json", """{"queries":{"q_x":9.0},"sf":"sf0.1"}""")
    write("BENCH_r10.json", """{"queries":{"q_x":1.0},"sf":"sf0.1"}""")
    assert(Bench.loadPriorArtifact(dir.getPath) === Map("q_x" -> 1.0))
    // A malformed newest artifact (a failed round's tail carries no
    // bench line) falls back to the newest PARSEABLE one.
    write("BENCH_r11.json", """{"n":10,"rc":1,"tail":"sbt blew up"}""")
    assert(Bench.loadPriorArtifact(dir.getPath) === Map("q_x" -> 1.0))
    new java.io.File(dir, "BENCH_r11.json").delete()
    // Same-SF priors load; a different scale factor is discarded
    // (2x of an sf0.01 value says nothing about an sf0.1 run).
    assert(Bench.loadPriorArtifact(dir.getPath, "sf0.1") === Map("q_x" -> 1.0))
    assert(Bench.loadPriorArtifact(dir.getPath, "sf0.01").isEmpty)
    // A missing directory degrades to empty.
    assert(Bench.loadPriorArtifact(dir.getPath + "/nope").isEmpty)
  }

  test("loader parses the DRIVER's envelope artifact format") {
    // The committed artifacts are envelopes with the bench line
    // backslash-escaped inside a "tail" string — the loader must read
    // that shape, or the cross-round stabilizer is dead code (the
    // round-11 review caught exactly this).
    val dir = java.nio.file.Files.createTempDirectory("benchenv").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "BENCH_r9.json"), "UTF-8")
    try w.write("""{"n": 10, "rc": 0, "sf": 0.1, "tail": "noise\n[info] """ +
      """{\"metric\":\"total\",\"value\":50.4,\"unit\":\"sec\",""" +
      """\"queries\":{\"q_a\":3.42,\"q_b\":0.33},\"dropped\":2,""" +
      """\"dropped_sum\":0.2,\"sf\":\"sf0.1\"}\n", "parsed": null}""")
    finally w.close()
    assert(Bench.loadPriorArtifact(dir.getPath, "sf0.1") ===
      Map("q_a" -> 3.42, "q_b" -> 0.33))
    assert(Bench.loadPriorArtifact(dir.getPath, "sf0.01").isEmpty)
    // The strongest pin: the REAL committed artifact must load.
    val real = Bench.loadPriorArtifact("/root/repo", "sf0.1")
    assert(real.nonEmpty && real.contains("q_anomaly_mad"),
      s"the committed BENCH_r*.json must parse, got ${real.size} entries")
  }

  test("a throwing rep is never a timing; the artifact names failed entries") {
    // A planted entry that always throws: no rep is timed, so it has no
    // time at all — even a prior value cannot pull extra reps out of it.
    val boom = Bench.timeEntry("q_boom",
      () => throw new IllegalStateException("planted"), 2, Some(1e-6))
    assert(boom.best.isEmpty && boom.failed && boom.reps == 2)
    // A flaky entry: its thrown rep is dropped, the good reps time it.
    var calls = 0
    val flaky = Bench.timeEntry("q_flaky", () => {
      calls += 1
      if (calls == 1) throw new IllegalStateException("planted")
      Thread.sleep(30)
    }, 2, None)
    assert(flaky.failed && flaky.best.exists(_ >= 0.03) && flaky.reps == 2)
    val ok = Bench.timeEntry("q_ok", () => Thread.sleep(5), 2, None)
    assert(!ok.failed && ok.best.isDefined)

    // Only timed entries enter `value`; failed ones are named.
    val results = Seq("q_ok" -> 0.5, "q_flaky" -> 0.25)
    val line = Bench.artifactLine(results,
      sentinel = Seq(0.05, 0.05, 0.05), scanSentinel = Seq(0.2, 0.2, 0.2),
      parSentinel = Seq(0.3, 0.3, 0.3), repsUsed = Map.empty,
      rechecked = Set.empty, repsDefault = 2, sfTag = "sf0.1",
      failed = Seq("q_flaky", "q_boom"))
    assert(line.contains(""""value":0.750,"""))
    assert(line.contains(""""failed_n":2,"failed":["q_boom","q_flaky"]"""))
    assert(!line.contains(""""q_boom":"""), "a never-timed entry has no time")
    assert(line.length <= 1900)
  }
}
