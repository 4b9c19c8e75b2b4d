package graft.tools

import java.nio.file.Files

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Synthetic-history coverage of `tools/diff_history.py`'s
  * lockstep-degradation discriminator (r16 verdict #5): ALL streaming
  * rate legs moving together — including the stateless tokenize leg,
  * which has no state to accrete — is host-window noise and must
  * classify `environment_lockstep` without failing the gate; one leg
  * moving alone is `engine_suspect` and must flag. The r16 adjudication
  * derived this by hand from BENCH_NOTES; this pins the tool doing it.
  * Also pins the r16 ADVICE #4 argument-parsing fixes (numeric first
  * arg = idxA with a defaulted path; out-of-range = usage, not a bare
  * IndexError).
  */
class DiffHistorySpec extends AnyFunSuite {

  private def entry(rates: Map[String, Double], load: Double,
      queries: Map[String, Double] = Map.empty,
      quality: String = "", steal: Double = -1.0,
      foreign: Double = -1.0, cpusRequested: String = ""): String = {
    val s = rates.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val qs = queries.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val wq = if (quality.isEmpty) "" else s""""window_quality":"$quality","""
    val ev = (if (steal >= 0) s""""steal_total_sec":$steal,""" else "") +
      (if (foreign >= 0) s""""foreign_mean":$foreign,""" else "") +
      (if (cpusRequested.nonEmpty)
        s""""cpus_requested":"$cpusRequested",""" else "")
    s"""{"wall_start":"t",$wq$ev"total_sec":100,"load_avg_start":$load,""" +
      s""""load_avg_end":$load,"queries":{$qs},"streaming":{$s}}"""
  }

  private val quiet = Map(
    "sessionize_events_per_sec" -> 1500000.0,
    "windowed_dedup_events_per_sec" -> 1600000.0,
    "tokenize_wordpiece_events_per_sec" -> 5000000.0,
    "ivf_assign_events_per_sec" -> 44000.0)

  private def run(lines: Seq[String], args: String*): (Int, String) = {
    val f = Files.createTempFile("graft-hist", ".jsonl")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val cmd = Seq("python3", "tools/diff_history.py", f.toString) ++ args
    val rc = Process(cmd, new java.io.File(".")).!(logger)
    Files.deleteIfExists(f)
    (rc, out.toString)
  }

  test("all four legs degrading together (incl. the stateless tokenize " +
      "leg) under a LOADED window classifies environment_lockstep and " +
      "does NOT flag") {
    val noisy = quiet.map { case (k, v) => k -> v / 3.2 }
    val (rc, out) = run(Seq(entry(quiet, 1.0), entry(noisy, 7.1)))
    assert(out.contains("environment_lockstep"), out)
    assert(!out.contains("unconfirmed"), out)
    assert(out.contains("0 flagged"), out)
    assert(rc === 0, out)
  }

  test("the same comparable lockstep with NO environment evidence " +
      "(quiet window, low load) is unconfirmed and exits 3 " +
      "(r17 ADVICE #1: direction alone must not pass an engine-wide " +
      "regression)") {
    val noisy = quiet.map { case (k, v) => k -> v / 3.2 }
    val (rc, out) = run(Seq(entry(quiet, 1.0, quality = "quiet"),
      entry(noisy, 1.2, quality = "quiet")))
    assert(out.contains("environment_lockstep_unconfirmed"), out)
    assert(out.contains("0 flagged"), out)
    assert(rc === 3, out)
  }

  test("a comparable 2x lockstep in a NOISY-labeled but steal-free, " +
      "foreign-free, low-load window is unconfirmed and exits 3 " +
      "(r18 verdict #4: the label is not evidence — on this host " +
      "'noisy' is the steady state, so label-based corroboration made " +
      "the adjudication path unreachable)") {
    val dropped = quiet.map { case (k, v) => k -> v / 2.0 }
    val (rc, out) = run(Seq(
      entry(quiet, 1.0, quality = "noisy", steal = 0.4, foreign = 0.2),
      entry(dropped, 1.5, quality = "noisy", steal = 0.8, foreign = 0.3)))
    assert(out.contains("environment_lockstep_unconfirmed"), out)
    assert(out.contains("0 flagged"), out)
    assert(rc === 3, out)
    // the same lockstep WITH measured steal in the newer entry is
    // corroborated environment and passes
    val (rcS, outS) = run(Seq(
      entry(quiet, 1.0, quality = "noisy", steal = 0.4, foreign = 0.2),
      entry(dropped, 1.5, quality = "noisy", steal = 14.2, foreign = 0.3)))
    assert(outS.contains("environment_lockstep"), outS)
    assert(!outS.contains("unconfirmed"), outS)
    assert(rcS === 0, outS)
  }

  test("a 2-leg lockstep with one leg far beyond the other IS " +
      "flaggable under the leave-one-out baseline (r18 ADVICE #1: " +
      "with the candidate inside the median, b > 2*(a+b)/2 was " +
      "mathematically impossible)") {
    val two = Map(
      "sessionize_events_per_sec" -> 1500000.0,
      "windowed_dedup_events_per_sec" -> 1600000.0)
    val moved = Map(
      "sessionize_events_per_sec" -> 1500000.0 / 1.7,
      "windowed_dedup_events_per_sec" -> 1600000.0 / 7.0)
    val (rc, out) = run(Seq(entry(two, 1.0), entry(moved, 7.1)))
    assert(out.contains("lockstep_outlier"), out)
    assert(out.contains("windowed_dedup_events_per_sec"), out)
    assert(rc === 1, out)
  }

  test("one leg collapsing 7x inside a directional lockstep (others " +
      "just past 1.5x) is a lockstep_outlier and flags that leg " +
      "(r17 ADVICE #1 magnitude rule)") {
    val noisy = quiet.map { case (k, v) => k -> v / 1.7 }
      .updated("windowed_dedup_events_per_sec",
        quiet("windowed_dedup_events_per_sec") / 7.0)
    val (rc, out) = run(Seq(entry(quiet, 1.0), entry(noisy, 7.1)))
    assert(out.contains("lockstep_outlier"), out)
    assert(out.contains("windowed_dedup_events_per_sec"), out)
    assert(out.contains("1 flagged"), out)
    assert(rc === 1, out)
  }

  test("one leg collapsing while the others hold classifies " +
      "engine_suspect and flags (exit 1)") {
    val regressed = quiet.updated("windowed_dedup_events_per_sec", 300000.0)
    val (rc, out) = run(Seq(entry(quiet, 1.0), entry(regressed, 1.0)))
    assert(out.contains("engine_suspect"), out)
    assert(out.contains("windowed_dedup_events_per_sec"), out)
    assert(out.contains("1 flagged"), out)
    assert(rc === 1, out)
  }

  test("steady rates emit no classification line") {
    val (rc, out) = run(Seq(entry(quiet, 1.0),
      entry(quiet.map { case (k, v) => k -> v * 1.05 }, 1.0)))
    assert(!out.contains("CLASS"), out)
    assert(rc === 0, out)
  }

  test("a wall move against a DEGRADED window prints as a note, not a " +
      "flag, but exits 2 — quiet rerun required (r17 ADVICE #2); the " +
      "same move between quiet windows flags (r16 verdict #3)") {
    val qs0 = Map("q83_token_budget" -> 3.1)
    val qs1 = Map("q83_token_budget" -> 7.9)
    val (rcDeg, outDeg) = run(Seq(entry(quiet, 1.0, qs0, "quiet"),
      entry(quiet, 7.0, qs1, "degraded")))
    assert(outDeg.contains("degraded window"), outDeg)
    assert(outDeg.contains("0 flagged"), outDeg)
    assert(outDeg.contains("suppressed"), outDeg)
    assert(rcDeg === 2, outDeg)
    val (rcQ, outQ) = run(Seq(entry(quiet, 1.0, qs0, "quiet"),
      entry(quiet, 1.0, qs1, "quiet")))
    assert(outQ.contains("WALL"), outQ)
    assert(rcQ === 1, outQ)
  }

  test("bidirectional profile staleness: a run uniformly faster than " +
      "the profile floor notes profile_stale_fast; uniformly slower " +
      "notes profile_stale_slow; neither gates (r17 verdict #4)") {
    val prof = Files.createTempFile("graft-prof", ".json")
    val names = (1 to 25).map(i => f"q$i%02d_synth")
    Files.writeString(prof,
      s"""{"entries":{${names.map(n => s""""$n":{"wall":2.0}""")
        .mkString(",")}}}""")
    def qs(wall: Double) = names.map(_ -> wall).toMap
    // same walls in both entries so no WALL flags fire; only the
    // newer-vs-profile median drives the note
    val (rcF, outF) = run(Seq(entry(quiet, 1.0, qs(1.2), "quiet"),
      entry(quiet, 1.0, qs(1.2), "quiet")), "--profile", prof.toString)
    assert(outF.contains("profile_stale_fast"), outF)
    assert(rcF === 0, outF)
    val (rcS, outS) = run(Seq(entry(quiet, 1.0, qs(2.9), "quiet"),
      entry(quiet, 1.0, qs(2.9), "quiet")), "--profile", prof.toString)
    assert(outS.contains("profile_stale_slow"), outS)
    assert(rcS === 0, outS)
    val (rcN, outN) = run(Seq(entry(quiet, 1.0, qs(2.0), "quiet"),
      entry(quiet, 1.0, qs(2.0), "quiet")), "--profile", prof.toString)
    assert(!outN.contains("profile_stale"), outN)
    assert(rcN === 0, outN)
    Files.deleteIfExists(prof)
  }

  test("default comparison anchors on the latest QUIET record, not a " +
      "degraded -2 entry, and a degraded newest entry points at the " +
      "quiet headline (r17 verdict #5)") {
    val qs = Map("q83_token_budget" -> 3.1)
    val lines = Seq(
      entry(quiet, 1.0, qs, "quiet"),       // 0: the true anchor
      entry(quiet, 7.0, qs, "degraded"),    // 1: must be skipped as base
      entry(quiet, 7.2, qs, "degraded"))    // 2: newest, degraded
    val (rc, out) = run(lines)
    assert(out.contains("anchor: latest quiet record (index 0"), out)
    assert(out.contains("quote the latest quiet record"), out)
    assert(rc === 0, out)
    // explicit indices bypass the anchor rule
    val (_, outExp) = run(lines, "1", "2")
    assert(!outExp.contains("anchor: latest quiet record"), outExp)
  }

  test("with NO quiet record in history, the default anchor falls back " +
      "to the minimum-steal non-degraded record and says so with its " +
      "age (r18 verdict #3: the silent index -2 fallback could anchor " +
      "a degraded run)") {
    val lines = Seq(
      entry(quiet, 1.0, quality = "noisy", steal = 22.0),
      entry(quiet, 1.0, quality = "noisy", steal = 1.3),   // 1: min steal
      entry(quiet, 7.0, quality = "degraded", steal = 48.0),
      entry(quiet, 1.5, quality = "noisy", steal = 9.0))   // newest
    val (rc, out) = run(lines)
    assert(out.contains("minimum-steal non-degraded record"), out)
    assert(out.contains("(no quiet record in history)"), out)
    assert(out.contains("index 1"), out)
    assert(out.contains("age 2 runs"), out)
    assert(rc === 0, out)
  }

  test("a quiet record OLDER than the anchor-age bound no longer " +
      "anchors: the minimum-steal non-degraded record wins and the " +
      "staleness is stated (r18 verdict #3: unbounded era-staleness)") {
    val stale = Seq(entry(quiet, 1.0, quality = "quiet", steal = 0.1)) ++
      (1 to 16).map(i =>
        entry(quiet, 1.0, quality = "noisy", steal = 2.0 + i)) :+
      entry(quiet, 1.5, quality = "noisy", steal = 9.0)
    val (rc, out) = run(stale)
    assert(out.contains("minimum-steal non-degraded record"), out)
    assert(out.contains("runs old"), out)
    assert(rc === 0, out)
    // explicit indices (even the literal default pair) always win —
    // r18 ADVICE #3: `-2 -1` passed explicitly must not be overridden
    val (_, outExp) = run(stale, "-2", "-1")
    assert(!outExp.contains("anchor:"), outExp)
  }

  test("entries benched at different requested core counts refuse to " +
      "compare (r19 verdict #2: an 8-core scaling run's artifacts " +
      "self-described as cpus: 32, so a cross-config diff looked " +
      "legitimate); same-config and legacy entries still diff") {
    val (rcMix, outMix) = run(Seq(
      entry(quiet, 1.0, cpusRequested = "32"),
      entry(quiet, 1.0, cpusRequested = "8")))
    assert(outMix.contains("CONFIG"), outMix)
    assert(outMix.contains("not comparable"), outMix)
    assert(rcMix === 1, outMix)
    val (rcSame, outSame) = run(Seq(
      entry(quiet, 1.0, cpusRequested = "32"),
      entry(quiet, 1.0, cpusRequested = "32")))
    assert(!outSame.contains("CONFIG"), outSame)
    assert(rcSame === 0, outSame)
    // pre-r20 entries carry no cpus_requested — must not trip the gate
    val (rcOld, outOld) = run(Seq(entry(quiet, 1.0),
      entry(quiet, 1.0, cpusRequested = "32")))
    assert(!outOld.contains("CONFIG"), outOld)
    assert(rcOld === 0, outOld)
  }

  test("requested core counts compare as integers, and a count on one " +
      "side only prints an advisory") {
    def numeric(e: String, n: String) =
      e.replace(s""""cpus_requested":"$n"""", s""""cpus_requested":$n""")
    // "32" (Bench writes a string) and 32 (a number) are one config
    val (rcSame, outSame) = run(Seq(
      entry(quiet, 1.0, cpusRequested = "32"),
      numeric(entry(quiet, 1.0, cpusRequested = "32"), "32")))
    assert(!outSame.contains("CONFIG"), outSame)
    assert(rcSame === 0, outSame)
    // a padded string still differs from another count
    val (rcMix, outMix) = run(Seq(
      entry(quiet, 1.0, cpusRequested = " 8"),
      numeric(entry(quiet, 1.0, cpusRequested = "32"), "32")))
    assert(outMix.contains("CONFIG cpus_requested differs (A=8, B=32)"),
      outMix)
    assert(rcMix === 1, outMix)
    val (rcOne, outOne) = run(Seq(entry(quiet, 1.0),
      entry(quiet, 1.0, cpusRequested = "32")))
    assert(outOne.contains("cpus_requested recorded on B only (32)"), outOne)
    assert(rcOne === 0, outOne)
  }

  test("explicit in-range indices work; out-of-range and a lone index " +
      "exit with a usage message instead of a stack trace") {
    val lines = Seq(entry(quiet, 1.0), entry(quiet, 1.0),
      entry(quiet.map { case (k, v) => k -> v / 3 }, 7.0))
    val (rc01, out01) = run(lines, "0", "1")
    assert(rc01 === 0 && out01.contains("0 flagged"), out01)
    val (rcOor, outOor) = run(lines, "0", "7")
    assert(rcOor === 1 && outOor.contains("out of range"), outOor)
    assert(!outOor.contains("Traceback"), outOor)
    val (rcOne, outOne) = run(lines, "2")
    assert(rcOne === 1 && outOne.contains("usage"), outOne)
  }
}
