package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** One timed attempt. None = the query THREW — never report
    * elapsed-to-throw as a timing: round 8 shipped 21 analysis-dead
    * queries as healthy ~0.06-0.24 s "results" because the old harness
    * swallowed the exception and recorded the elapsed time anyway.
    */
  private def attempt(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(500))
      None
    }
  }

  /** Each query runs FOUR times: the first (untimed, recorded as cold)
    * pays one-shot janino codegen compilation and JIT; the next three are
    * timed, kept INDIVIDUALLY (run order preserved), and the MEDIAN
    * reported — single-run numbers at this scale carry ±20%
    * scheduler/GC noise, and a median-of-3 pins real regressions apart
    * from it. Returns (cold, the three reps); cold is None when the
    * query threw (a cold-run failure skips the repeats — a dead query
    * shouldn't pay three more throws), and any rep's None makes
    * [[median]] None too. Per-rep values exist because of the r12
    * driver artifact: a host stall inflates ONE rep 10–15× while the
    * others sit in-band, and only the rep list makes that mechanically
    * distinguishable from a real regression.
    */
  private[graft] def benchOne(spark: SparkSession, sfDir: String,
      name: String, fn: (SparkSession, String) => DataFrame)
      : (Option[Double], Seq[Option[Double]]) = {
    val cold = attempt(spark, sfDir, name, fn)
    val reps = if (cold.isEmpty) Seq.empty
      else Seq.fill(3)(attempt(spark, sfDir, name, fn))
    (cold, reps)
  }

  /** Median of the three reps; None unless all three completed. */
  private[graft] def median(reps: Seq[Option[Double]]): Option[Double] =
    if (reps.length == 3 && reps.forall(_.isDefined)) reps.sorted(
      Ordering.by[Option[Double], Double](_.get))(1)
    else None

  /** A rep set is SPREAD-flagged when its fastest and slowest differ by
    * both >2× and >0.3 s absolute — the r12 stall signature (one rep
    * 10–15× over its siblings), sized above scheduler jitter on
    * sub-100 ms queries. A flagged query's median is still reported;
    * the flag tells the reader the host was unstable DURING this
    * query, so treat an out-of-band median as a measurement artifact
    * until a dedicated band says otherwise.
    */
  private[graft] def spreadFlag(reps: Seq[Option[Double]]): Boolean =
    reps.length == 3 && reps.forall(_.isDefined) && {
      val v = reps.map(_.get)
      val (lo, hi) = (v.min, v.max)
      hi - lo > 0.3 && hi > 2.0 * lo
    }

  /** Per-query int-CENTISECOND medians out of a previously WRITTEN
    * summary sidecar — the committed closing `bench_summary.json` from
    * the same tree is the reference vector for [[vsPrevOutliers]].
    * Hand-rolled extraction, not a JSON library: the input is this
    * file's own [[renderJson]] output, whose `queries` object is flat
    * (no nested braces) with digit-or-letter short keys and
    * integer/null values, so two regexes parse it exactly; `null`
    * medians simply don't match the digit group and drop out. Any
    * malformed/foreign file yields an empty map — the detector then
    * reports `vs_prev: null` rather than guessing. A reference written
    * at a DIFFERENT scale factor is rejected the same way (empty):
    * comparing sf0.01 medians against an sf0.1 closing file would flag
    * (or mask) the whole suite, so the file's own `sf` label must match
    * `sfLabel`. UNIT TRANSITION: files declaring `"unit_queries":"cs"`
    * (the current format) read as-is; anything else — the r13/r14
    * closing summaries and every older artifact carried integer
    * MILLISECONDS — converts ÷10 on read, so the one committed-ms →
    * fresh-cs round compares correctly instead of silently passing
    * every query (a 10× deflated reference would mask real stalls).
    */
  private[graft] def parseSummaryQueries(line: String,
      sfLabel: String): Map[String, Long] = {
    val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(line)
      .exists(_.group(1) == sfLabel)
    if (!sfOk) Map.empty
    else {
      val isCs = line.contains("\"unit_queries\":\"cs\"") ||
        line.contains("\"uq\":\"cs\"")
      // the deep-shed DECISECOND tier (see renderJson's shed ladder):
      // values read ×10 back to centiseconds
      val isDs = line.contains("\"uq\":\"ds\"")
      """"queries":\{([^}]*)\}""".r.findFirstMatchIn(line)
        .fold(Map.empty[String, Long]) { m =>
          """"([^"]+)":([0-9]+)""".r.findAllMatchIn(m.group(1))
            .map { x =>
              val v = x.group(2).toLong
              x.group(1) -> (if (isDs) v * 10
                else if (isCs) v else Math.round(v / 10.0))
            }.toMap
        }
    }
  }

  /** SUSTAINED-window stall detector — the gap the per-rep
    * [[spreadFlag]] can't cover: when ALL THREE reps ride one
    * multi-second host window (the r13 driver's q26: 3.65/5.17/6.80 s
    * vs a 0.46 s committed closing median), the within-query spread
    * stays under threshold and the polluted median looks like a 10×
    * regression. The committed closing summary from the same tree is
    * the reference: a query whose fresh median is ≥2.5× its committed
    * median AND ≥0.3 s over it (the same absolute floor as the spread
    * flag — sub-100 ms queries jitter 2.5× on scheduler noise alone)
    * lands in the `vs_prev` outlier list. Annotation, not censorship:
    * the median still reports; the list tells the reader which
    * out-of-band numbers to adjudicate against a dedicated band before
    * calling them regressions. Returns (shortKey, fresh cs, prev cs) —
    * centiseconds since the 188-query byte shed; the ≥0.3 s absolute
    * floor is 30 in this unit.
    */
  private[graft] def vsPrevOutliers(
      results: Seq[(String, (Option[Double], Seq[Option[Double]]))],
      prev: Map[String, Long]): Seq[(String, Long, Long)] =
    results.flatMap { case (k, (_, reps)) =>
      val key = shortKey(k)
      for {
        m <- median(reps).map(s => Math.round(s * 100))
        p <- prev.get(key)
        if m * 10 >= p * 25 && m - p > 30
      } yield (key, m, p)
    }

  /** In-run host-window detection off the CANARY series — the r14 gap:
    * vs_prev adjudicates a polluted run only POST-HOC against the
    * committed reference, and four r14 closing attempts burned on
    * windows nobody could see mid-run. The canary is one pinned ~0.1 s
    * control re-timed between every ~8 suite queries; readings cluster
    * at the host's quiet floor, and a sustained window lifts them
    * together. Two thresholds (hysteresis — the r15 gap: a hard
    * threshold alone flagged [90,119] while vs_prev outliers clustered
    * at its 38–57/120–142 shoulders, elevated-but-sub-threshold):
    *
    *  - HARD: ≥2.5× the run's own canary floor AND >0.3 s over it
    *    (the suite's stall thresholds; the floor is this run's minimum
    *    reading, so the detector needs no committed band).
    *  - SOFT: ≥1.5× the floor AND >0.15 s over it — a window's
    *    shoulder, or a short window straddling two probes that lifts
    *    each only partially.
    *
    * A maximal run of consecutive SOFT readings becomes a span when it
    * either contains a hard reading (shoulders extend the window they
    * abut) or is at least two readings long (two consecutive elevated
    * probes is a sustained window even if no single probe rode its
    * peak); one isolated soft reading is scheduler jitter and stays
    * quiet. Spans are conservative query-index bounds: from just after
    * the last clean canary before the run through the next clean
    * canary after it (window edges can fall anywhere between probes).
    * A run whose EVERY reading rides one window self-normalizes to an
    * inflated floor and reports no spans — that whole-run case is
    * exactly what the committed band roster catches; the detectors are
    * complementary, not redundant.
    */
  private[graft] def canaryWindows(readings: Seq[(Int, Double)],
      lastPos: Int): Seq[(Int, Int)] = {
    if (readings.isEmpty) return Seq.empty
    val floor = readings.map(_._2).min
    val hard = readings.map { case (_, s) =>
      s >= 2.5 * floor && s - floor > 0.3 }
    val soft = readings.map { case (_, s) =>
      s >= 1.5 * floor && s - floor > 0.15 }
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < readings.length) {
      if (soft(i)) {
        var j = i
        while (j + 1 < readings.length && soft(j + 1)) j += 1
        if (j > i || (i to j).exists(hard)) {
          val start = if (i == 0) 0 else readings(i - 1)._1 + 1
          val end =
            if (j + 1 < readings.length) readings(j + 1)._1 else lastPos
          spans += ((start, end))
        }
        i = j + 1
      } else i += 1
    }
    spans.toSeq
  }

  /** Per-query timing BANDS out of the committed `bench_bands.json`
    * roster — the r15 closure of the one-shot-reference problem: a
    * single closing suite run failed two rounds straight on this host
    * (sustained degradation windows polluted every attempt, in both
    * directions — inflated medians that mask real regressions AND make
    * true readings look like speedups), so the reference is now a
    * committed per-query [lo, hi] band distilled from quiet-window solo
    * readings + adjudicated in-suite evidence (SCALE.md's roster,
    * seeded by `tools/make_bands.py`), and a closing run adjudicates
    * PER BAND — one polluted stretch no longer discards the whole run.
    * Same defensive parse posture as [[parseSummaryQueries]]: the
    * file's own `sf` label must match, values are integer centiseconds
    * (`[lo, hi, "provenance"]` triples under `"bands"`), and a
    * malformed/foreign/mis-scaled file yields an empty map → the
    * detector reports `vs_band: null` rather than guessing.
    */
  private[graft] def parseBands(content: String,
      sfLabel: String): Map[String, (Long, Long)] = {
    val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(content)
      .exists(_.group(1) == sfLabel)
    if (!sfOk) Map.empty
    else
      // scope the key/triple regex to the `"bands":{...}` block (the
      // entries hold no nested `{`, so the non-greedy body is exact) —
      // a future numeric-keyed [int,int,...] section elsewhere in the
      // file must not be absorbed as timing bands
      """"bands":\{([^}]*)\}""".r.findFirstMatchIn(content)
        .fold(Map.empty[String, (Long, Long)]) { blk =>
          """"([0-9]+[a-z]*)":\[([0-9]+),([0-9]+)""".r
            .findAllMatchIn(blk.group(1))
            .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong))
            .toMap
        }
  }

  /** Band adjudication, ABOVE side: a fresh median is an outlier when
    * it clears the band's hi by ≥2× AND >0.3 s — hi already carries
    * the band's own variance headroom, so the multiplier is tighter
    * than vs_prev's 2.5× against a raw one-shot median. Returns
    * (shortKey, fresh, lo, hi), centiseconds.
    */
  private[graft] def vsBandOutliers(
      results: Seq[(String, (Option[Double], Seq[Option[Double]]))],
      bands: Map[String, (Long, Long)]): Seq[(String, Long, Long, Long)] =
    results.flatMap { case (k, (_, reps)) =>
      val key = shortKey(k)
      for {
        m <- median(reps).map(s => Math.round(s * 100))
        (lo, hi) <- bands.get(key)
        if m >= 2 * hi && m - hi > 30
      } yield (key, m, lo, hi)
    }

  /** Band adjudication, BELOW side: a fresh median under HALF the
    * band's lo (and >0.3 s under it) says the BAND is wrong, not the
    * code — the r14→r15 inverse signature (10 medians committed off a
    * degraded host read 0.23–0.32× on the next quiet run). These rows
    * are re-band work items, never celebrated as speedups.
    */
  private[graft] def vsBandBelow(
      results: Seq[(String, (Option[Double], Seq[Option[Double]]))],
      bands: Map[String, (Long, Long)]): Seq[(String, Long, Long, Long)] =
    results.flatMap { case (k, (_, reps)) =>
      val key = shortKey(k)
      for {
        m <- median(reps).map(s => Math.round(s * 100))
        (lo, hi) <- bands.get(key)
        if 2 * m <= lo && lo - m > 30
      } yield (key, m, lo, hi)
    }

  /** Driver-short query key: the number of a registered query's
    * `qNN`/`qNNx` prefix (`q118_stream_ann_index` → `118`); names
    * without that shape pass through whole. Keys are unique by
    * construction of the registry (numbering never repeats; `79`/`79b`
    * differ). The `q` is dropped deliberately: the driver keeps only
    * the LAST 2000 chars of stdout and sbt's trailing success line eats
    * ~75 of them, so at 166 queries every byte of the line counts —
    * r8/r9's full-name 5 KB lines came back `parsed: null`, and the r9
    * short-key fix was one suite-growth round from the same fate.
    */
  private[graft] def shortKey(name: String): String =
    "^q([0-9]+[a-z]*)_".r.findFirstMatchIn(name).fold(name)(_.group(1))

  /** The one-line JSON artifact the driver parses. Failed queries appear
    * as `null` in the queries map AND by name in `failed` so a breakage
    * is visible in the artifact itself, not only in stderr.
    *
    * Sized for the driver's capture window, which is the LAST 2000
    * chars of stdout MINUS sbt's ~75-char trailing success line — so
    * the whole line must stay under ~1925 B (BENCH_r08/r09 came back
    * `"parsed": null` because 137 full-name 9-decimal entries made a
    * ~5 KB line; the r12 line measured 1862 B at 157 queries — 63 B of
    * headroom). There is NO graceful degradation: tail capture chops
    * the FRONT of an overlong line (the opening brace and summary
    * fields), so any overflow at all is `parsed: null` — staying under
    * budget is the only defense. Hence every byte is budgeted:
    * per-query values are integer CENTISECONDS since 188 queries
    * (marked "uq":"cs" ON the line — a unit change without a marker
    * would 10×-confuse any cross-round comparison), keys
    * are the numeric [[shortKey]]s, the sf label is the directory
    * basename, EMPTY failed/spread lists are omitted entirely, and
    * sidecar-resident fields (`cold_total`, per-rep arrays, `stat`)
    * stay off the line — with a final shed-to-fit pass dropping the
    * diagnostic lists when a stalled host inflates the line anyway.
    * Full names + float seconds + cold + reps live in the sidecar
    * files `main` writes.
    */
  /** Cumulative hypervisor-steal ticks off `/proc/stat`'s aggregate cpu
    * line (field 9; USER_HZ = 100, so ticks ARE centiseconds). The r17
    * q112 investigation measured the "host degradation windows" as
    * steal BURSTS — up to ~19 cpu-seconds stolen per 5 s of wall on a
    * 32-thread run with in-band controls minutes earlier — so the
    * canary now samples this counter too: a closing run's outliers
    * carry direct hypervisor evidence instead of inference from probe
    * timings alone. None off-Linux or when unreadable.
    */
  private[graft] def stealTicks(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).flatMap { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) Some(f(8).toLong) else None
      } finally src.close()
    } catch { case _: Exception => None }

  private[graft] def renderJson(
      results: Seq[(String, (Option[Double], Seq[Option[Double]]))],
      sfDir: String, withReps: Boolean = false,
      prev: Map[String, Long] = Map.empty,
      canary: Option[(String, Seq[(Int, Double)])] = None,
      bands: Map[String, (Long, Long)] = Map.empty,
      steal: Seq[(Int, Long)] = Nil): String = {
    // integer CENTISECONDS since 188 queries (the documented next shed:
    // int ms ran the healthy-line budget guard past 1900 B at suite
    // growth +3) — ~1 B/query back, 10 ms resolution, which the stall
    // thresholds (2.5× AND >0.3 s) never notice; the full sidecar keeps
    // float seconds for band work
    val qs = results.map { case (k, (_, reps)) =>
      Verify.jsonStr(shortKey(k)) +
        ":" + median(reps).fold("null")(s => Math.round(s * 100).toString) }
      .mkString("{", ",", "}")
    val failed = results.collect {
      case (k, (_, reps)) if median(reps).isEmpty => k }
    // empty diagnostic lists stay OFF the line (suite growth at 181
    // queries ran the budget guard into its limit; two always-present
    // `[]` fields were 25 B of the healthy-case line saying nothing —
    // absence of the key now MEANS empty, and a consumer greps the key
    // only on breakage)
    val failedJson = if (failed.isEmpty) "" else
      failed.map(f => Verify.jsonStr(shortKey(f)))
        .mkString("\"failed\":[", ",", "],")
    // the stall detector: queries whose three reps disagree >2× AND
    // >0.3 s — on a healthy host this list is empty, on the r12-style
    // stalled host it names exactly the polluted medians
    val spread = results.collect {
      case (k, (_, reps)) if spreadFlag(reps) => k }
    val spreadJson = if (spread.isEmpty) "" else
      spread.map(f => Verify.jsonStr(shortKey(f)))
        .mkString("\"spread\":[", ",", "],")
    def sec3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = sec3(results.flatMap(r => median(r._2._2)).sum)
    // the sf label is the directory basename — the full path spends 15
    // line bytes repeating what the basename already says
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption
      .getOrElse(sfDir)
    // sidecar-only fields (the FILE has no capture cap): cold_total and
    // the per-rep int-ms arrays (~3.5 KB for the full suite)
    val extras = if (!withReps) "" else {
      val coldTotal = sec3(results.flatMap(_._2._1).sum)
      // sustained-window stall list vs the committed closing summary
      // (sidecar-only, like the rep arrays — the driver line's byte
      // budget is untouched). null when no committed reference exists;
      // n_shared says how much of the suite the comparison covered
      // (suite growth between rounds leaves new queries uncovered —
      // they have no committed median to compare against)
      // the committed BAND roster is the primary reference; a query a
      // band covers is adjudicated per-band and leaves the legacy
      // one-shot vs_prev comparison entirely (comparing against both
      // would re-open the polluted-median channel bands exist to close)
      val vsBand = if (bands.isEmpty) "null" else {
        val covered = results.count(r =>
          bands.contains(shortKey(r._1)) && median(r._2._2).isDefined)
        val above = vsBandOutliers(results, bands)
          .map { case (k, m, lo, hi) => Verify.jsonStr(k) + s":[$m,$lo,$hi]" }
          .mkString("{", ",", "}")
        val below = vsBandBelow(results, bands)
          .map { case (k, m, lo, hi) => Verify.jsonStr(k) + s":[$m,$lo,$hi]" }
          .mkString("{", ",", "}")
        s"""{"n_covered":$covered,"outliers":$above,"below":$below}"""
      }
      val prevUncovered = prev.filter(kv => !bands.contains(kv._1))
      val vsPrev = if (prevUncovered.isEmpty) "null" else {
        // only queries the comparison could actually evaluate: a
        // committed median AND a fresh one (all-reps-failed queries
        // would otherwise inflate the claimed coverage)
        val shared = results.count(r =>
          prevUncovered.contains(shortKey(r._1)) && median(r._2._2).isDefined)
        val outliers = vsPrevOutliers(results, prevUncovered)
          .map { case (k, m, p) => Verify.jsonStr(k) + s":[$m,$p]" }
          .mkString("{", ",", "}")
        s"""{"n_shared":$shared,"outliers":$outliers}"""
      }
      // the in-run canary series + its host_windows spans (sidecar-only,
      // like everything else here — the driver line's byte budget is
      // untouched). `positions` are suite indices the reading followed;
      // spans are conservative [start, end] query-index bounds. null
      // when the run was too short to probe (subsets under one stride)
      val canaryJson = canary.filter(_._2.nonEmpty).fold("null") {
        case (cname, readings) =>
          val lastPos = results.length - 1
          val spans = canaryWindows(readings, lastPos)
            .map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
          s"""{"name":${Verify.jsonStr(cname)},"positions":${
            readings.map(_._1).mkString("[", ",", "]")},"ms":${
            readings.map(r => Math.round(r._2 * 1000))
              .mkString("[", ",", "]")},"host_windows":$spans}"""
      }
      // hypervisor-steal deltas sampled at the canary points (sidecar
      // only): each entry is the steal accrued across the span ENDING
      // at that suite index, in centisecond ticks — the direct
      // host-window evidence the r17 q112 adjudication measured
      val stealJson =
        if (steal.isEmpty) "null"
        else s"""{"positions":${steal.map(_._1).mkString("[", ",", "]")
          },"cs":${steal.map(_._2).mkString("[", ",", "]")}}"""
      results.map { case (k, (_, rs)) =>
        Verify.jsonStr(shortKey(k)) + ":" + rs.map(
          _.fold("null")(s => Math.round(s * 100).toString))
          .mkString("[", ",", "]")
      }.mkString(
        s""","cold_total":$coldTotal,"vs_band":$vsBand,"vs_prev":$vsPrev,"canary":$canaryJson,"steal":$stealJson,"reps":{""",
        ",", "}")
    }
    // "stat":"median_of_3" moved off the line at 181 queries (27 B the
    // sidecars and SCALE.md already state). At 188 queries the planned
    // centisecond shed landed: per-query values are integer
    // CENTISECONDS on the line AND in the summary sidecar's
    // queries/reps — and BECAUSE the unit changed, the line now spends
    // 11 B on an explicit "uq":"cs" marker (a cross-round reader
    // comparing against the ms-era BENCH_r14 numbers must see the unit,
    // not infer it); the sidecar states it as "unit_queries":"cs" and
    // parseSummaryQueries converts ms-era references on read. Nothing
    // is left to shed after this but widening the capture
    val unitQ =
      if (withReps) """"unit_queries":"cs",""" else """"uq":"cs","""
    def assemble(f: String, sp: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec",$unitQ$f$sp"queries":$qs,"sf":"$sfLabel"$extras}"""
    val line = assemble(failedJson, spreadJson)
    // shed-to-fit, DRIVER LINE ONLY (the sidecar has no capture cap and
    // keeps everything): a stalled host inflates the line from both
    // ends — 5-digit stall medians in the queries map AND a long
    // spread list — and the r14 builder host measured 1960 B that way,
    // past the ~1925 B capture window, which would have come back
    // `parsed: null`. The diagnostic lists are recoverable from the
    // sidecars (bench_last_full's per-query spread_flag, the summary's
    // uncapped lists), so shed spread first, then failed; the contract
    // fields and the queries map never shed. FINAL tier (suite growth
    // past ~193 queries made a catastrophic-host line overflow even
    // with both lists gone): re-render the per-query values in
    // DECISECONDS, marked "uq":"ds" on the line — ~1 B back per
    // ≥1 s entry, and the 100 ms resolution is invisible to every
    // stall threshold (the absolute floor is 0.3 s). The summary
    // sidecar always keeps centiseconds; parseSummaryQueries converts
    // ds-era lines ×10 on read.
    if (withReps || line.length < 1920) line
    else {
      val noSpread = assemble(failedJson, "")
      if (noSpread.length < 1920) noSpread
      else {
        val noLists = assemble("", "")
        if (noLists.length < 1920) noLists
        else {
          val qsDs = results.map { case (k, (_, reps)) =>
            Verify.jsonStr(shortKey(k)) + ":" +
              median(reps).fold("null")(s => Math.round(s * 10).toString)
          }.mkString("{", ",", "}")
          s"""{"metric":"total","value":$total,"unit":"sec","uq":"ds","queries":$qsDs,"sf":"$sfLabel"}"""
        }
      }
    }
  }

  /** Full-fidelity sidecar (full query names, float seconds, cold AND
    * every rep) — the builder's SCALE.md source of record; the driver
    * only sees the short line from [[renderJson]].
    */
  private[graft] def renderJsonFull(
      results: Seq[(String, (Option[Double], Seq[Option[Double]]))],
      sfDir: String): String = {
    def opt(v: Option[Double]) = v.fold("null")(_.toString)
    val qs = results.map { case (k, (c, reps)) =>
      Verify.jsonStr(k) + ":{\"cold\":" + opt(c) +
        ",\"steady\":" + opt(median(reps)) +
        ",\"reps\":" + reps.map(opt).mkString("[", ",", "]") +
        ",\"spread_flag\":" + spreadFlag(reps) + "}"
    }.mkString("{", ",", "}")
    s"""{"sf":${Verify.jsonStr(sfDir)},"queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // builder-local iteration only (mirrors Verify's third arg): bench a
    // comma-separated subset IN THE ORDER GIVEN — ordered subsets are how
    // the in-suite-inflation experiments place a query early vs late in
    // a controlled prefix (SCALE.md round-10 q118 adjudication); the
    // driver never sets this
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // Bench-harness-only I/O setup: scratch and checkpoints on tmpfs
    val tmpfs = Harness.tmpfsScratch("graft_bench")
    val spark = Harness.session(cpus)
    // same session surface as Verify: SQL kernels + the
    // size(bpe_encode)->count rewrite (ScaleSmoke deliberately does NOT
    // install it — its encode-vs-count comparison asserts the naive
    // plan survived)
    GraftExtensions.install(spark)
    // per-query scratch wipe (default ON, see Harness.wipeScratch):
    // bounds the checkpoint/state dirs a long suite accumulates on the
    // tmpfs scratch.
    // SPARK_GRAFT_WIPE_SCRATCH=0 reproduces the old accumulate-to-the-
    // end behavior for A/B runs.
    val wipeScratch =
      sys.env.getOrElse("SPARK_GRAFT_WIPE_SCRATCH", "1") != "0"
    val ordered = only match {
      case Some(names) =>
        names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
      case None => SparkEntry.queries.toSeq
    }
    // the in-run canary (SPARK_GRAFT_CANARY=0 disables; =name overrides
    // the control): one pinned ~0.1 s query re-timed every `stride`
    // suite queries and once after the last — the series + its
    // host_windows spans land in the summary sidecar so a sustained
    // degradation window is machine-identified mid-run, not
    // adjudicated post-hoc. Warmed once untimed up front (the reading
    // must measure the host, not one-shot codegen); skipped entirely
    // for subsets shorter than one stride, whose solo bands shouldn't
    // carry even the canary's ~0.1 s of extra work.
    val canaryEnv = sys.env.getOrElse("SPARK_GRAFT_CANARY", "1")
    val canaryName =
      if (canaryEnv == "0") "" else
      if (canaryEnv == "1") "q10_null_counts" else canaryEnv
    // stride 8, halved from the original 15 (r15 verdict: the host's
    // observed windows were shorter than a 15-query gap — outliers at
    // positions 38–57 and 120–142 fell between probes)
    val canaryStride = 8
    val canaryFn = SparkEntry.queries.get(canaryName)
      .filter(_ => ordered.length > canaryStride)
    val canaryReadings = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    // hypervisor-steal deltas at the same probe points (r17: the host
    // windows ARE steal bursts — see stealTicks). Sampled independently
    // of the canary query's success; absent off-Linux.
    val stealReadings = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    var lastSteal: Option[Long] = stealTicks()
    canaryFn.foreach(fn => attempt(spark, sfDir, s"$canaryName[warm]", fn))
    def probeCanary(pos: Int): Unit = {
      for (cur <- stealTicks(); prev <- lastSteal)
        stealReadings += ((pos, cur - prev))
      lastSteal = stealTicks()
      canaryFn.foreach { fn =>
        attempt(spark, sfDir, s"$canaryName[canary]", fn)
          .foreach(s => canaryReadings += ((pos, s)))
      }
    }
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      val r = name -> benchOne(spark, sfDir, name, fn)
      if (wipeScratch) Harness.wipeScratch()
      if ((i + 1) % canaryStride == 0 || i == ordered.length - 1)
        probeCanary(i)
      r
    }
    val summary = renderJson(results, sfDir)
    // a filtered builder probe (SPARK_GRAFT_ONLY) must NEVER default
    // onto the repo's full-suite sidecar: bench_last_full.json is
    // make_bands.py's per-rep history AND its current-suite key set,
    // both gitignored — a 6-query probe overwriting it silently
    // destroys the band-regen inputs (r17 incident). Probes default to
    // a tmp path; an explicit SPARK_GRAFT_BENCH_FULL still wins.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "/tmp/bench_probe_full.json"
      else "/root/repo/bench_last_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        renderJsonFull(results, sfDir).getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query timings: $fullPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    // machine-readable sidecar for the driver (BENCH parse fallback) —
    // the FILE additionally carries the per-rep arrays and the vs_prev
    // stall list (no capture-size cap applies to it; summary fields
    // still print first, so a parser that reads it like the line sees
    // the same prefix). The vs_prev reference is the summary file's
    // content BEFORE this run: in the driver flow — one bench per
    // round over a checkout — that IS the committed closing summary.
    // The write below replaces it, so a SECOND run in the same tree
    // compares against the first run, not the committed file; when
    // that matters (consecutive builder runs under a suspect host),
    // pin the reference explicitly with SPARK_GRAFT_BENCH_REF or
    // git-restore the summary first. A reference at a different scale
    // factor is ignored (parse guard), not compared.
    // same probe guard as the full sidecar: a filtered run must not
    // replace the committed closing summary (vs_prev's reference)
    val summaryPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
        if (only.isDefined) "/tmp/bench_probe_summary.json"
        else "/root/repo/bench_summary.json"))
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF")
      .map(java.nio.file.Paths.get(_)).getOrElse(summaryPath)
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption
      .getOrElse(sfDir)
    val prev =
      try {
        if (java.nio.file.Files.isRegularFile(refPath))
          parseSummaryQueries(new String(
            java.nio.file.Files.readAllBytes(refPath), "UTF-8"), sfLabel)
        else Map.empty[String, Long]
      } catch { case _: Exception => Map.empty[String, Long] }
    // the committed per-query band roster (primary reference; see
    // parseBands). Unlike the summary, this run never rewrites it —
    // bands change only through tools/make_bands.py + a commit
    val bandsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BANDS",
        "/root/repo/bench_bands.json"))
    val bands =
      try {
        if (java.nio.file.Files.isRegularFile(bandsPath))
          parseBands(new String(
            java.nio.file.Files.readAllBytes(bandsPath), "UTF-8"), sfLabel)
        else Map.empty[String, (Long, Long)]
      } catch { case _: Exception => Map.empty[String, (Long, Long)] }
    try java.nio.file.Files.write(summaryPath,
      (renderJson(results, sfDir, withReps = true, prev = prev,
        canary = Some((canaryName, canaryReadings.toSeq)),
        bands = bands, steal = stealReadings.toSeq) + "\n")
        .getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] summary write failed: ${e.getMessage}")
    }
    // nothing between here and the summary println may throw: a failed
    // stop() or a racing writer under /dev/shm would otherwise skip the
    // one line the driver parses (the sidecar is only the fallback)
    try {
      spark.stop()
      tmpfs.foreach(deleteRecursively)
    } catch { case e: Exception =>
      System.err.println(s"[bench] post-run cleanup failed: ${e.getMessage}")
    }
    // the summary line prints LAST, after spark.stop()'s log chatter, so
    // it is the final stdout line of the run; build.sbt's StdoutOutput
    // strategy keeps it free of sbt's `[info] ` prefix — both halves of
    // the r10 `"parsed": null` fix
    println(summary)
    System.out.flush()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.store.UpsertWriter.deleteRecursively(p)
}
