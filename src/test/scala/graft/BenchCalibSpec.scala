package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the calib-baseline pairing contract of [[Bench.priorCalib]].
  *
  * The r10 structural defect: exact-round pairing (baseline =
  * BENCH_r{round} for the round of the newest CORRECTNESS artifact) can
  * never resolve in the DRIVER's flow, because the driver writes
  * CORRECTNESS_rN before the bench runs and BENCH_rN after — so every
  * driver artifact carried `normalized_total: null`. The contract is now
  * "newest BENCH_r{k} with k ≤ round carrying a parseable calib", which
  * pairs the driver flow to r{N-1} and the builder's in-round flow to rN,
  * both strictly before the current round.
  *
  * The r11 addendum: pairing alone is not enough — r11's driver artifact
  * normalized against r10's CONTENDED calib (series 0.95→1.70) and read
  * 94 s normalized vs 76 s raw, a distortion of the baseline host, not of
  * this round's code. The gate: a candidate whose probe spread (max/min
  * over parallel_s + series) exceeds [[Bench.NoisyCalibSpread]] is passed
  * over for the next-older QUIET calib, with the skip named in the
  * artifact; if every candidate is noisy, the newest is returned flagged
  * `noisy` so the caller refuses normalization with the spread on record.
  */
class BenchCalibSpec extends AnyFunSuite {

  private def withRepo(files: Map[String, String])(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("bench-calib-spec")
    try {
      files.foreach { case (name, txt) =>
        java.nio.file.Files.writeString(dir.resolve(name), txt)
      }
      f(dir.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def benchJson(parallelS: Double, threads: Int,
      series: Seq[Double] = Nil): String =
    s"""{"metric":"total","value":100.0,"calib":{"single_s":0.5,"parallel_s":$parallelS,"threads":$threads,"parallel_med":$parallelS,"series":${series
      .mkString("[", ",", "]")}}}\n"""

  test("driver flow: CORRECTNESS_rN present, BENCH_rN absent pairs to BENCH_r{N-1}") {
    withRepo(Map(
      "CORRECTNESS_r11.json" -> """{"q1":{"rows_match":true}}""",
      "BENCH_r10.json" -> benchJson(1.25, 32),
      "BENCH_r09.json" -> benchJson(0.99, 32))) { repo =>
      val got = Bench.priorCalib(repo, 11)
      assert(got.map(p => (p.src, p.parallelMed, p.threads))
        .contains(("BENCH_r10.json", 1.25, 32)))
      assert(got.exists(p => !p.noisy && p.skippedNoisy.isEmpty))
    }
  }

  test("builder in-round flow: BENCH_rN present pairs to it, not an older round") {
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(1.25, 32),
      "BENCH_r09.json" -> benchJson(0.99, 32))) { repo =>
      assert(Bench.priorCalib(repo, 10)
        .map(p => (p.src, p.parallelMed, p.threads))
        .contains(("BENCH_r10.json", 1.25, 32)))
    }
  }

  test("never pairs to a FUTURE round's artifact") {
    withRepo(Map(
      "BENCH_r12.json" -> benchJson(2.0, 32),
      "BENCH_r10.json" -> benchJson(1.25, 32))) { repo =>
      assert(Bench.priorCalib(repo, 11).map(_.src)
        .contains("BENCH_r10.json"))
    }
  }

  test("driver-style artifact with the calib inside an escaped tail string parses") {
    val tail = """{"tail":"{\"metric\":\"total\",\"calib\":{\"single_s\":0.5,\"parallel_s\":1.5,\"threads\":32}}"}"""
    withRepo(Map("BENCH_r10.json" -> tail)) { repo =>
      assert(Bench.priorCalib(repo, 11)
        .map(p => (p.src, p.parallelMed, p.threads))
        .contains(("BENCH_r10.json", 1.5, 32)))
    }
  }

  test("a calib-less newest round is skipped, not fatal (pre-r7 artifacts)") {
    withRepo(Map(
      "BENCH_r10.json" -> """{"metric":"total","value":100.0}""",
      "BENCH_r09.json" -> benchJson(0.99, 32))) { repo =>
      assert(Bench.priorCalib(repo, 11).map(_.src)
        .contains("BENCH_r09.json"))
    }
  }

  test("thread count rides along for the caller's mismatch refusal") {
    withRepo(Map("BENCH_r10.json" -> benchJson(1.1, 16))) { repo =>
      assert(Bench.priorCalib(repo, 11).map(_.threads).contains(16))
    }
  }

  test("no prior artifact at all yields None") {
    withRepo(Map.empty) { repo =>
      assert(Bench.priorCalib(repo, 11).isEmpty)
    }
  }

  test("a corrupt newest artifact REFUSES normalization instead of falling back") {
    // the file mentions a calib but truncation cut the object — silently
    // normalizing against the older r09 would be a surprising baseline
    withRepo(Map(
      "BENCH_r10.json" -> """{"metric":"total","calib":{"single_s":0.5,"paral""",
      "BENCH_r09.json" -> benchJson(0.99, 32))) { repo =>
      assert(Bench.priorCalib(repo, 11).isEmpty)
    }
  }

  test("zero-padding twins tie-break deterministically (name order, not fs order)") {
    withRepo(Map(
      "BENCH_r9.json" -> benchJson(1.5, 32),
      "BENCH_r09.json" -> benchJson(0.9, 32))) { repo =>
      assert(Bench.priorCalib(repo, 10).map(_.src)
        .contains("BENCH_r09.json"))
    }
  }

  test("an over-Int-range digit run in a stray filename is ignored, not fatal") {
    withRepo(Map(
      "BENCH_r99999999999.json" -> benchJson(9.9, 32),
      "BENCH_r10.json" -> benchJson(1.25, 32))) { repo =>
      assert(Bench.priorCalib(repo, 11).map(_.src)
        .contains("BENCH_r10.json"))
    }
  }

  // ---- the r11 calib-quality gate ----

  test("a noisy newest baseline is skipped for an older quiet one, with the skip named") {
    // r10-shaped contention: pre-suite probe 0.95, slices drift to 1.70 —
    // spread 1.79 > 1.4 ⇒ pass over, normalize against quiet r09
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(0.95, 32, Seq(1.1, 1.45, 1.70)),
      "BENCH_r09.json" -> benchJson(1.0, 32, Seq(1.02, 0.98, 1.01)))) { repo =>
      val got = Bench.priorCalib(repo, 11)
      assert(got.map(_.src).contains("BENCH_r09.json"))
      assert(got.exists(!_.noisy))
      assert(got.map(_.skippedNoisy.map(_._1)).contains(Seq("BENCH_r10.json")))
      // and the recorded spread of the SKIPPED artifact is its own, > bound
      assert(got.exists(_.skippedNoisy.head._2 > Bench.NoisyCalibSpread))
    }
  }

  test("all-noisy candidates return the newest flagged noisy (caller refuses, spread on record)") {
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(0.95, 32, Seq(1.7)),
      "BENCH_r09.json" -> benchJson(1.0, 32, Seq(1.6)))) { repo =>
      val got = Bench.priorCalib(repo, 11)
      assert(got.map(_.src).contains("BENCH_r10.json"))
      assert(got.exists(_.noisy))
      assert(got.exists(_.spread > Bench.NoisyCalibSpread))
      // its own entry is not a "skip"; the older noisy one is recorded
      assert(got.map(_.skippedNoisy.map(_._1)).contains(Seq("BENCH_r09.json")))
    }
  }

  test("spread at exactly the bound is quiet (gate is strict-greater)") {
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(1.0, 32, Seq(1.4)))) { repo =>
      val got = Bench.priorCalib(repo, 11)
      assert(got.exists(p => !p.noisy && math.abs(p.spread - 1.4) < 1e-9))
    }
  }

  test("a series-less calib (pre-r9 artifacts) reads spread 1.0 and is quiet") {
    val noSeries =
      """{"metric":"total","calib":{"single_s":0.5,"parallel_s":1.2,"threads":32}}"""
    withRepo(Map("BENCH_r08.json" -> noSeries)) { repo =>
      val got = Bench.priorCalib(repo, 11)
      assert(got.exists(p => !p.noisy && p.spread == 1.0 && p.parallelMed == 1.2))
    }
  }

  test("baseline speed is the MEDIAN over parallel_s + series, matching the current side") {
    // quiet drift 1.0, 1.2, 1.1 → sorted (1.0, 1.1, 1.2) → median 1.1,
    // NOT the pre-suite 1.0 alone — both sides of the normalization ratio
    // must be the same estimator
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(1.0, 32, Seq(1.2, 1.1)))) { repo =>
      assert(Bench.priorCalib(repo, 11).map(_.parallelMed).contains(1.1))
    }
  }

  test("a corrupt artifact below a noisy one still refuses (unknowable beats contended)") {
    withRepo(Map(
      "BENCH_r10.json" -> benchJson(0.95, 32, Seq(1.7)),
      "BENCH_r09.json" -> """{"metric":"total","calib":{"single_s":0.5,"paral""")) { repo =>
      assert(Bench.priorCalib(repo, 11).isEmpty)
    }
  }

  // The round-12 addendum: the cpu-spin calib anti-correlated with suite
  // totals twice in one day (quieter calib, slower suite) — the storage
  // side moved, which calibWork cannot see. calibIo is the diagnostic
  // probe; pin that it measures something and cleans up after itself.
  test("calibIo returns positive times and leaves no temp file behind") {
    val tmpDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    def probes() = {
      val s = java.nio.file.Files.list(tmpDir)
      try {
        val it = s.iterator(); var n = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.startsWith("graft-calib-io")) n += 1
        }
        n
      } finally s.close()
    }
    val before = probes()
    val (w, r) = Bench.calibIo()
    assert(w > 0.0 && r > 0.0 && w.isFinite && r.isFinite, s"($w, $r)")
    assert(probes() == before, "calibIo left its temp file behind")
  }

  test("memSlice measures a parallel stream-sum and is reusable") {
    // the bandwidth probe must return sane positive seconds and not
    // degrade across calls
    val a = Bench.memSlice(4)
    val b = Bench.memSlice(4)
    assert(a > 0 && b > 0 && a < 30 && b < 30)
  }
}
