package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round-8 postmortem, as a regression test: a query that THROWS must
  * be loudly visible in both harness artifacts — an `errors.json` entry
  * from the Verify dump, and a `null` timing + `failed` entry in the
  * Bench JSON line — never a silent absence or an elapsed-to-throw
  * "timing".
  */
class HarnessFailureSpec extends SparkSpec {
  import spark.implicits._

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("deliberately broken")

  test("Verify.dumpQueries records a thrown query in errors.json") {
    val out = Files.createTempDirectory("graft_vfail_").toString
    val errors = Verify.dumpQueries(spark, "unused", out,
      Seq("q_ok" -> good, "q_dead" -> boom))
    assert(errors.map(_._1) == Seq("q_dead"))
    assert(errors.head._2.contains("deliberately broken"))
    // the good query still materialized
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    val errJson = Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson.contains("q_dead") && errJson.contains("deliberately broken"))
    assert(!errJson.contains("q_ok"))
  }

  test("Verify.dumpQueries writes an empty errors.json when all pass") {
    val out = Files.createTempDirectory("graft_vok_").toString
    assert(Verify.dumpQueries(spark, "unused", out, Seq("q_ok" -> good)).isEmpty)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json")).trim == "{}")
  }

  test("Bench reports a thrown query as null + failed, not a timing") {
    val results = Seq(
      "q_ok" -> Bench.benchOne(spark, "unused", "q_ok", good),
      "q_dead" -> Bench.benchOne(spark, "unused", "q_dead", boom))
    val (coldOk, repsOk) = results.head._2
    assert(coldOk.exists(_ > 0) && Bench.median(repsOk).exists(_ > 0))
    assert(repsOk.length == 3 && repsOk.forall(_.exists(_ > 0)))
    assert(results(1)._2 == ((None, Seq.empty)))
    val json = Bench.renderJson(results, "sfX")
    assert(json.contains("\"q_dead\":null"))
    assert(json.contains("\"failed\":[\"q_dead\"]"))
    assert(!json.contains("\"q_ok\":null"))
  }

  test("Bench flags a stalled rep as spread, and keeps reps off the line") {
    // one rep 12× its siblings — the r12 driver-stall signature
    val stalled = Seq(Some(0.5), Some(6.0), Some(0.52))
    val tight = Seq(Some(0.50), Some(0.55), Some(0.52))
    assert(Bench.spreadFlag(stalled))
    assert(!Bench.spreadFlag(tight))
    // sub-threshold absolute jitter on a tiny query never flags, even at 3×
    assert(!Bench.spreadFlag(Seq(Some(0.05), Some(0.15), Some(0.06))))
    // the median still reports (the flag annotates, not censors)
    assert(Bench.median(stalled).contains(0.52))
    val results = Seq("q_stall" -> ((Option(1.0), stalled)),
      "q_fine" -> ((Option(1.0), tight)))
    val line = Bench.renderJson(results, "sfX")
    assert(line.contains("\"spread\":[\"q_stall\"]"))
    assert(!line.contains("\"reps\"")) // per-rep arrays are file-only
    val file = Bench.renderJson(results, "sfX", withReps = true)
    assert(file.contains("\"reps\":{"))
    assert(file.contains("\"q_stall\":[50,600,52]")) // centiseconds
    val full = Bench.renderJsonFull(results, "sfX")
    assert(full.contains("\"reps\":[0.5,6.0,0.52]"))
    assert(full.contains("\"spread_flag\":true"))
    assert(full.contains("\"spread_flag\":false"))
  }

  test("Bench flags a sustained-window stall vs the committed summary") {
    // the r13 driver's q26 signature: all three reps elevated inside one
    // multi-second host window — spreadFlag stays quiet (reps agree),
    // only the committed-median comparison catches it
    val window = Seq(Some(3.65), Some(5.17), Some(6.80))
    assert(!Bench.spreadFlag(window))
    val results = Seq(
      "q26_wide_csv" -> ((Option(4.0), window)),
      "q02_project_rename" -> ((Option(0.2),
        Seq(Some(0.10), Some(0.11), Some(0.10)): Seq[Option[Double]])),
      // 2.6× but only +130 ms: under the absolute floor, never flags
      "q74_tiny" -> ((Option(0.1),
        Seq(Some(0.21), Some(0.21), Some(0.21)): Seq[Option[Double]])),
      // no committed median (suite growth): uncovered, not flagged
      "q999_new" -> ((Option(1.0),
        Seq(Some(9.0), Some(9.0), Some(9.0)): Seq[Option[Double]])))
    // the reference vector is CENTISECONDS (parseSummaryQueries
    // normalizes ms-era committed files on read)
    val prev = Map("26" -> 46L, "02" -> 10L, "74" -> 8L)
    assert(Bench.vsPrevOutliers(results, prev) ==
      Seq(("26", 517L, 46L)))
    // sidecar rendering: vs_prev with shared-coverage count; the driver
    // LINE stays untouched (sidecar-only, like the rep arrays)
    val side = Bench.renderJson(results, "sfX", withReps = true,
      prev = prev)
    assert(side.contains(
      """"vs_prev":{"n_shared":3,"outliers":{"26":[517,46]}}"""))
    val line = Bench.renderJson(results, "sfX", prev = prev)
    assert(!line.contains("vs_prev"))
    // no committed reference → null, not a zero-outlier object
    assert(Bench.renderJson(results, "sfX", withReps = true)
      .contains("\"vs_prev\":null"))
    // the reference vector round-trips out of the sidecar's own format
    val parsed = Bench.parseSummaryQueries(side, "sfX")
    assert(parsed.get("26").contains(517L) &&
      parsed.get("02").contains(10L) && parsed.get("999").contains(900L))
    // a null median in the committed file drops out of the reference;
    // a file WITHOUT the "cs" marker is ms-era and converts /10 on read
    assert(Bench.parseSummaryQueries(
      """{"queries":{"1":null,"2":42},"sf":"x"}""", "x") == Map("2" -> 4L))
    assert(Bench.parseSummaryQueries(
      """{"unit_queries":"cs","queries":{"2":42},"sf":"x"}""", "x")
      == Map("2" -> 42L))
    // a reference written at a DIFFERENT scale factor is rejected whole
    // — comparing sf0.01 medians to an sf0.1 file would flag the suite
    assert(Bench.parseSummaryQueries(
      """{"queries":{"2":42},"sf":"sf0.1"}""", "sf0.01").isEmpty)
    // malformed/foreign file → empty map → vs_prev: null
    assert(Bench.parseSummaryQueries("not json at all", "sfX").isEmpty)
    // an all-reps-failed query is excluded from the claimed coverage
    val withDead = results :+ ("q26b_dead" ->
      ((None: Option[Double], Seq.empty[Option[Double]])))
    val side2 = Bench.renderJson(withDead, "sfX", withReps = true,
      prev = prev + ("26b" -> 10L))
    assert(side2.contains("\"n_shared\":3")) // 26b shared but unevaluable
  }

  test("idRangeBacklog: loud on empty input, overflow-safe boundaries") {
    import org.apache.spark.sql.functions.col
    // empty frame → a named require, not an opaque NPE on max(doc_id)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.idRangeBacklog(spark,
        Files.createTempDirectory("graft_irb0_").toString,
        Seq.empty[Long].toDF("doc_id"))
    }
    assert(e.getMessage.contains("non-empty"))
    // ids near Long.MaxValue: the old maxId * i boundary math overflowed
    // negative and silently dropped rows from the slices
    val big = Seq(3L, Long.MaxValue / 2, Long.MaxValue - 1).toDF("doc_id")
    val (src, _) = SparkEntry.idRangeBacklog(spark,
      Files.createTempDirectory("graft_irb1_").toString, big, nFiles = 3)
    val got = spark.read.parquet(src).select(col("doc_id"))
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(3L, Long.MaxValue / 2, Long.MaxValue - 1))
  }

  test("Bench JSON fits the driver capture: short keys, int ms, summary first") {
    assert(Bench.shortKey("q118_stream_ann_index") == "118")
    assert(Bench.shortKey("q79b_pipeline_excise") == "79b")
    assert(Bench.shortKey("q_dead") == "q_dead") // no qNN prefix → whole name
    // registry-wide: short keys stay unique (a collision would silently
    // merge two queries' timings in the driver artifact)
    val keys = SparkEntry.queries.keys.toSeq.map(Bench.shortKey)
    assert(keys.distinct.size == keys.size)
    // the driver keeps the LAST 2000 chars of stdout and sbt's trailing
    // success line eats ~75 of them (measured off BENCH_r12.json), so
    // the COMPLETE line must stay under ~1925 B or the round's bench
    // comes back `parsed: null` (BENCH_r08/r09's failure mode at ~5 KB).
    // Values model the observed distribution with margin: mostly
    // sub-second (3-digit ms), every 4th in seconds (4-digit), every
    // 20th in tens of seconds (5-digit) — r12's real line averaged
    // fewer digits than this
    val names = SparkEntry.queries.keys.toSeq.sorted
    val fake = names.zipWithIndex.map { case (k, i) =>
      val ms = if (i % 20 == 0) 54.321098765
        else if (i % 4 == 0) 5.432109876 else 0.543210987
      k -> ((Some(12.345678901): Option[Double],
        Seq.fill(3)(Some(ms): Option[Double])))
    }
    val line = Bench.renderJson(fake, "/root/testdata/sf0.1")
    assert(line.length < 1900, s"bench line is ${line.length} B — the " +
      "driver tail budget is ~1925 B after sbt's trailer; shed bytes " +
      "before the next suite growth")
    // healthy case: EMPTY diagnostic lists stay off the line entirely
    // (25 B at 181 queries), as does "stat" — absence means empty
    assert(!line.contains("\"failed\"") && !line.contains("\"spread\""))
    assert(!line.contains("\"stat\""))
    assert(line.contains(":5432")) // integer centiseconds
    assert(line.contains("\"uq\":\"cs\"")) // the unit rides the line now
    assert(line.contains("\"sf\":\"sf0.1\"")) // basename label, not path
    assert(!line.contains("cold_total")) // sidecar-only field
    // the long-form unit marker lives in the sidecar; the line carries
    // only the short "uq" form asserted above
    assert(!line.contains("unit_queries"))
    // breakage case: failed/spread lists appear, before the queries map
    val broken = fake.updated(0,
      fake.head._1 -> ((Option.empty[Double], Seq.fill(3)(
        Option.empty[Double]))))
      .updated(1, fake(1)._1 -> ((Some(12.3): Option[Double],
        Seq(Some(0.4), Some(0.41), Some(5.0)).map(x => x: Option[Double]))))
    val bline = Bench.renderJson(broken, "/root/testdata/sf0.1")
    assert(bline.indexOf("\"failed\":") < bline.indexOf("\"queries\":"))
    assert(bline.indexOf("\"spread\":") < bline.indexOf("\"queries\":"))
    assert(bline.contains(Verify.jsonStr(Bench.shortKey(fake.head._1)) +
      ":null")) // failed query still occupies its slot
    // shed-to-fit: a stalled host inflates medians to 5 digits AND
    // flags a long spread list (the r14 builder host measured 1960 B
    // that way) — the line sheds the spread list rather than
    // overflowing the ~1925 B capture window; the sidecar keeps it
    val stalled = names.zipWithIndex.map { case (k, i) =>
      // the observed shape: ~13 queries ride a stall window (spread-
      // flagged, 5-digit ms medians), the rest keep the healthy mix
      val reps = if (i % 14 == 0)
        Seq(Some(4.0), Some(40.0), Some(41.0)) // spread-flagged
      else if (i % 4 == 0) Seq.fill(3)(Some(5.432109876))
      else Seq.fill(3)(Some(0.543210987))
      k -> ((Some(50.0): Option[Double], reps.map(x => x: Option[Double])))
    }
    val sline = Bench.renderJson(stalled, "/root/testdata/sf0.1")
    assert(sline.length < 1925, s"stalled-host line is ${sline.length} B")
    // the r14-shaped stall fit WITH its spread list intact from the
    // centisecond shed (188 queries) until suite growth to 198 ran the
    // base line out of slack — the ladder now sheds the list (it is
    // recoverable from the sidecars), and the line stays parseable
    // with its centisecond values intact
    assert(sline.contains("\"uq\":\"cs\"") && sline.contains(":4000"))
    // a catastrophic host (EVERY query spread-flagged, every median in
    // whole seconds) inflates the line with a full-suite spread list
    // AND 3-digit centisecond values — the shed drops the lists and,
    // when that still overflows (suite growth past ~193 queries made
    // it so), re-renders the values in DECISECONDS under an explicit
    // "uq":"ds" marker; the line stays parseable and a cross-round
    // reader converts on the marker, never by guessing
    val wrecked = names.map { k =>
      k -> ((Some(50.0): Option[Double],
        Seq(Some(0.5), Some(5.0), Some(5.1))
          .map(x => x: Option[Double])))
    }
    val wline = Bench.renderJson(wrecked, "/root/testdata/sf0.1")
    assert(wline.length < 1925, s"wrecked-host line is ${wline.length} B")
    assert(!wline.contains("\"spread\""))
    assert(wline.contains("\"queries\":")) // contract fields never shed
    assert(wline.contains("\"uq\":\"ds\"")) // the deep-shed unit marker
    // a ds-era line round-trips back to centiseconds on the marker
    val wparsed = Bench.parseSummaryQueries(wline, "sf0.1")
    assert(wparsed.values.forall(_ == 500L))
    // the sidecar line (withReps) never sheds
    val sside = Bench.renderJson(stalled.take(5), "/x/sf0.1",
      withReps = true)
    assert(sside.contains("\"spread\":"))
    // the summary sidecar (no capture cap) keeps cold_total + reps
    val side = Bench.renderJson(fake.take(1), "/x/sf0.1", withReps = true)
    assert(side.contains("cold_total") && side.contains("\"reps\":{"))
    assert(side.contains("\"unit_queries\":\"cs\"")) // unit marker rides here
    // the full sidecar keeps full names + float seconds
    val full = Bench.renderJsonFull(fake.take(1), "sfX")
    assert(full.contains(fake.head._1) && full.contains("54.321098765") &&
      full.contains("\"cold\":12.345678901"))
  }

  test("band roster: per-query adjudication against committed [lo,hi]") {
    // the r15 closure: the one-shot committed-summary reference failed
    // two rounds straight (host windows polluted every closing attempt,
    // in both directions), so the reference is now bench_bands.json —
    // committed per-query bands, adjudicated per query
    val results = Seq(
      // in band: never flagged either way
      "q01_in_band" -> ((Option(1.0),
        Seq(Some(0.50), Some(0.52), Some(0.51)): Seq[Option[Double]])),
      // 3x the band hi AND > 0.3 s over it: an above-band outlier
      "q02_regressed" -> ((Option(1.0),
        Seq(Some(1.50), Some(1.52), Some(1.51)): Seq[Option[Double]])),
      // over hi but under 2x: band headroom absorbs it, no flag
      "q03_warm" -> ((Option(1.0),
        Seq(Some(0.80), Some(0.80), Some(0.80)): Seq[Option[Double]])),
      // under half the band lo and > 0.3 s under: the band itself is
      // suspect (committed off a degraded host) — a below-band row
      "q04_band_inflated" -> ((Option(1.0),
        Seq(Some(0.40), Some(0.40), Some(0.40)): Seq[Option[Double]])),
      // 2x over hi but only +0.2 s: under the absolute floor, no flag
      "q05_tiny" -> ((Option(0.1),
        Seq(Some(0.20), Some(0.20), Some(0.20)): Seq[Option[Double]])),
      // no band entry (suite growth): uncovered, not flagged
      "q999_new" -> ((Option(1.0),
        Seq(Some(9.0), Some(9.0), Some(9.0)): Seq[Option[Double]])))
    val bands = Map(
      "01" -> ((40L, 60L)), "02" -> ((40L, 60L)), "03" -> ((40L, 60L)),
      "04" -> ((100L, 120L)), "05" -> ((5L, 10L)))
    assert(Bench.vsBandOutliers(results, bands) ==
      Seq(("02", 151L, 40L, 60L)))
    assert(Bench.vsBandBelow(results, bands) ==
      Seq(("04", 40L, 100L, 120L)))
    // sidecar rendering: vs_band with coverage count, outliers, below;
    // band-covered queries leave the legacy vs_prev comparison (the
    // polluted one-shot medians must not re-open the channel), so a
    // prev entry for q02 is ignored while q999's still applies
    val side = Bench.renderJson(results, "sfX", withReps = true,
      prev = Map("02" -> 10L, "999" -> 100L), bands = bands)
    assert(side.contains(""""vs_band":{"n_covered":5,"outliers":{"02":[151,40,60]},"below":{"04":[40,100,120]}}"""))
    assert(side.contains(""""vs_prev":{"n_shared":1,"outliers":{"999":[900,100]}}"""))
    // no roster → null, not a zero-coverage object
    assert(Bench.renderJson(results, "sfX", withReps = true)
      .contains("\"vs_band\":null"))
    // the driver line never carries it
    assert(!Bench.renderJson(results, "sfX", bands = bands)
      .contains("vs_band"))
  }

  test("band roster file parses defensively: sf label, cs triples") {
    val file = """{"sf":"sf0.1","unit":"cs","note":"x","bands":{""" +
      """"02":[46,66,"roster"],"79b":[100,120,"history3/4"]}}"""
    assert(Bench.parseBands(file, "sf0.1") ==
      Map("02" -> ((46L, 66L)), "79b" -> ((100L, 120L))))
    // a roster at a different scale factor is rejected whole — sf0.01
    // medians against sf0.1 bands would flag (or mask) the suite
    assert(Bench.parseBands(file, "sf0.01").isEmpty)
    // malformed/foreign content → empty → vs_band: null, never a guess
    assert(Bench.parseBands("not json", "sf0.1").isEmpty)
    assert(Bench.parseBands("""{"sf":"sf0.1","bands":{}}""", "sf0.1").isEmpty)
    // the committed roster itself round-trips: every entry is a
    // [lo, hi, provenance] triple with lo <= hi at this run's sf label
    val committed = new String(Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/bench_bands.json")), "UTF-8")
    val parsed = Bench.parseBands(committed, "sf0.1")
    assert(parsed.nonEmpty)
    assert(parsed.forall { case (_, (lo, hi)) => lo >= 1 && lo <= hi })
    // and covers the whole registered suite by short key
    val keys = SparkEntry.queries.keys.map(Bench.shortKey).toSet
    assert(keys.forall(parsed.contains),
      s"uncovered: ${keys.filterNot(parsed.contains).mkString(",")}")
  }

  test("band roster: generated table agrees with the committed file, " +
      "and hand-recorded quiet evidence is never narrowed away") {
    // the r16 q107/q128 drift: a history-only regen silently narrowed
    // two bands below quiet re-reads SCALE.md's own adjudication cited
    // (q107 read 2.68-3.27 s against a committed hi of 1.86 s), because
    // the evidence lived in prose, not in make_bands.py's HAND dict.
    // Two permanent guards: (a) the regen emits bench_bands.md in
    // lockstep with bench_bands.json so adjudication text cites
    // generated numbers — the two must agree row for row; (b) the
    // transcribed evidence floors themselves — a future regen that
    // loses them (HAND deletion + --allow-narrow without re-basing
    // justification) fails here.
    val committed = new String(Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/bench_bands.json")), "UTF-8")
    val parsed = Bench.parseBands(committed, "sf0.1")
    val md = new String(Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/bench_bands.md")), "UTF-8")
    val tableRows = """\| q([0-9]+[a-z]*) \| ([0-9]+) \| ([0-9]+) \|""".r
      .findAllMatchIn(md)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong)))
      .toMap
    assert(tableRows == parsed,
      s"bench_bands.md and bench_bands.json disagree: " +
        s"md-only=${(tableRows.keySet -- parsed.keySet).mkString(",")} " +
        s"json-only=${(parsed.keySet -- tableRows.keySet).mkString(",")} " +
        s"diff=${tableRows.collect { case (k, v) if parsed.get(k).exists(_ != v) => k }.mkString(",")}")
    // (b) SCALE.md r16 closing evidence: q107 in-band at 268-327 cs
    // (band [137,403]), judge probe 323-379 cs. The roster must cover
    // those readings. q128's r16 evidence ([257,569]) was retired by
    // the r17 single-pass + r18 witness-array rewrites of the operator
    // it measured (OPTIMIZATION_r18.md change 2: a quiet reading can
    // no longer reach 2.6 s); the pin guards the POST-rewrite quiet
    // evidence (r18 closing reps 92-101 cs, canary-clean) plus steal
    // headroom, and caps hi at the committed 300 so a regen cannot
    // widen it further. With hi=300 the outlier rule flags only at
    // 2*hi = 600 cs, so a regression to the 426-528 cs pre-rewrite
    // readings would NOT flag.
    assert(parsed("107")._1 <= 137 && parsed("107")._2 >= 403,
      s"q107 band ${parsed("107")} no longer covers the recorded quiet evidence [137,403]")
    assert(parsed("128")._1 <= 92 && parsed("128")._2 >= 250 &&
        parsed("128")._2 <= 300,
      s"q128 band ${parsed("128")} no longer covers the recorded post-rewrite quiet evidence [92,250] within hi <= 300")
  }

  test("canary series turns a sustained window into a query-index span") {
    // quiet host: readings cluster at the floor -> no spans
    val quiet = Seq((14, 0.10), (29, 0.12), (44, 0.11), (59, 0.13))
    assert(Bench.canaryWindows(quiet, 60) == Seq.empty)
    // one mid-run window lifting two consecutive probes: the span runs
    // from just after the last clean probe before it through the next
    // clean probe after (edges can fall anywhere between probes)
    val midRun = Seq((14, 0.10), (29, 0.55), (44, 0.60), (59, 0.11))
    assert(Bench.canaryWindows(midRun, 60) == Seq((15, 59)))
    // a window still open at run end extends to the last query index
    val trailing = Seq((14, 0.10), (29, 0.11), (44, 0.70))
    assert(Bench.canaryWindows(trailing, 52) == Seq((30, 52)))
    // a window already open at run start begins at query 0
    val leading = Seq((14, 0.48), (29, 0.10), (44, 0.11))
    assert(Bench.canaryWindows(leading, 60) == Seq((0, 29)))
    // sub-threshold wobble (2.5x but under the 0.3 s absolute floor)
    // never flags — scheduler jitter on a ~0.1 s control
    assert(Bench.canaryWindows(
      Seq((14, 0.10), (29, 0.28), (44, 0.11)), 60) == Seq.empty)
    // ONE isolated soft-elevated reading (1.5x and +0.15 s, but not
    // hard) is also jitter: stays quiet
    assert(Bench.canaryWindows(
      Seq((8, 0.10), (16, 0.32), (24, 0.11)), 30) == Seq.empty)
    // the r15 shoulder gap: a hard window whose SHOULDERS read
    // elevated-but-sub-threshold — hysteresis extends the span over
    // every soft reading abutting the hard one, so the flagged span
    // covers the shoulders too, not just the peak
    assert(Bench.canaryWindows(
      Seq((8, 0.10), (16, 0.30), (24, 0.60), (32, 0.29), (40, 0.11)),
      48) == Seq((9, 40)))
    // a short window STRADDLING two probes lifts each only partially:
    // neither reading is hard, but two consecutive soft readings are a
    // sustained window, not jitter — caught
    assert(Bench.canaryWindows(
      Seq((8, 0.10), (16, 0.33), (24, 0.34), (32, 0.11)), 40) ==
      Seq((9, 32)))
    // the sidecar carries the series + spans under "canary"; the driver
    // line (withReps = false) never does
    val fake2 = Seq("q01_x" ->
      ((Some(1.0): Option[Double], Seq.fill(3)(Some(0.5): Option[Double]))))
    val side = Bench.renderJson(fake2, "/x/sf0.1", withReps = true,
      canary = Some(("q10_null_counts", Seq((14, 0.1), (29, 0.55),
        (44, 0.6), (59, 0.1)))))
    assert(side.contains("\"canary\":{\"name\":\"q10_null_counts\"") &&
      side.contains("\"host_windows\":[[15,59]]") &&
      side.contains("\"positions\":[14,29,44,59]") &&
      side.contains("\"ms\":[100,550,600,100]"))
    val line = Bench.renderJson(fake2, "/x/sf0.1")
    assert(!line.contains("canary"))
    // the hypervisor-steal series (r17: host windows measured as steal
    // bursts) rides the sidecar next to the canary; absent series →
    // null; the driver line never carries it either
    val sideSteal = Bench.renderJson(fake2, "/x/sf0.1", withReps = true,
      steal = Seq((14, 3L), (29, 1905L)))
    assert(sideSteal.contains(
      """"steal":{"positions":[14,29],"cs":[3,1905]}"""))
    assert(side.contains("\"steal\":null"))
    assert(!line.contains("steal"))
    // the counter itself parses on this host (Linux): monotone
    // non-negative
    val s1 = Bench.stealTicks()
    assert(s1.exists(_ >= 0L))
    // an empty series (subset run, no probes) reports null, not []
    val noProbe = Bench.renderJson(fake2, "/x/sf0.1", withReps = true,
      canary = Some(("q10_null_counts", Seq.empty)))
    assert(noProbe.contains("\"canary\":null"))
  }
}
