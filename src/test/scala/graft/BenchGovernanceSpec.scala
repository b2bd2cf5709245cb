package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's contention-governance helpers (round 15):
  * the BASELINE.md table parser feeding the end-of-suite retry pass,
  * and the retry trigger itself. These guard the published BENCH
  * artifact against the round-14 failure mode (box-contended medians up
  * to 5.5x their isolated truth governing the next round).
  */
class BenchGovernanceSpec extends AnyFunSuite {

  test("parseBaselineMedians reads entry rows, skips prose tables and headers") {
    // the prose includes multibyte UTF-8 (×, →) on purpose: the bench JVM
    // runs without a UTF-8 default charset and a charset-sensitive reader
    // threw MalformedInputException mid-suite (round-15 run-1 crash) —
    // the parser must decode UTF-8 bytes regardless of file.encoding
    val md =
      """# BASELINE
        |Round-14 medians were up to 5.5× their isolated truth → re-based.
        || Metric | Value | Config | Source (file:line) |
        ||---|---|---|---|
        || Default search limit | 20 rows | `LIMIT` | `query.py:33` |
        |
        || entry | sec (median of 3 runs) | floor |
        ||---|---|---|
        || a01_anndata_obs_filter | 0.21 | 0.19 |
        || q21_join_agg_revenue | 0.56 | 0.52 |
        || x00_calibration | 0.40 | 0.38 |
        |""".stripMargin
    val f = java.io.File.createTempFile("baseline", ".md")
    try {
      java.nio.file.Files.write(f.toPath,
        md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = Bench.parseBaselineMedians(f.getPath)
      assert(parsed === Map(
        "a01_anndata_obs_filter" -> 0.21,
        "q21_join_agg_revenue" -> 0.56,
        "x00_calibration" -> 0.40))
    } finally f.delete()
  }

  test("parseBaselineMedians: missing file is empty, not an error") {
    assert(Bench.parseBaselineMedians("/nonexistent/BASELINE.md").isEmpty)
  }

  test("parseBaselineMedians: first (newest-table) occurrence wins over older tables") {
    // BASELINE.md keeps the newest measured table at the top and older
    // rounds' tables below; an entry present in both must resolve to the
    // TOP row. The original toMap kept the last (= oldest) occurrence,
    // so the retry pass governed against round-10 rows — round-16 fix.
    val md =
      """## Measured numbers (round 16)
        || entry | sec | floor |
        ||---|---|---|
        || b12_zarr_native_scan | 0.40 | 0.35 |
        |
        |## Measured numbers (round 10)
        || entry | sec | floor |
        ||---|---|---|
        || b12_zarr_native_scan | 0.50 | 0.32 |
        || b07_cc_190k_edges | 5.46 | 5.28 |
        |""".stripMargin
    val f = java.io.File.createTempFile("baseline", ".md")
    try {
      java.nio.file.Files.write(f.toPath,
        md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = Bench.parseBaselineMedians(f.getPath)
      assert(parsed("b12_zarr_native_scan") === 0.40) // newest, not 0.50
      assert(parsed("b07_cc_190k_edges") === 5.46) // present only below: kept
    } finally f.delete()
  }

  test("isContended: >2x baseline with the absolute guard") {
    // 2.4x a 0.56s baseline: retry
    assert(Bench.isContended(Some(0.56), 1.35, 1.30))
    // 2.4x a 60ms entry is 84ms of noise — absolute guard suppresses it
    assert(!Bench.isContended(Some(0.06), 0.144, 0.14))
    // within 2x of baseline: no retry even if absolute delta is large
    assert(!Bench.isContended(Some(5.0), 9.0, 8.8))
  }

  test("isContended: absolute guard scales with the baseline (round-15 verdict)") {
    // the b12 case verbatim: 0.404 s in-suite median over an (anomalous)
    // 0.16 s baseline row — the old constant-0.25 guard missed the retry
    // by 6 ms (0.404 < 0.16 + 0.25); the scaled guard fires
    assert(Bench.isContended(Some(0.16), 0.404, 0.35))
    // the verdict's acceptance test: a sustained 2.5x drift on a 0.3-s
    // baseline entry triggers a retry
    assert(Bench.isContended(Some(0.30), 0.75, 0.72))
    // large baseline: 0.5*b dominates — 2.1x an 8-s entry still retries
    // (delta 8.8 s >> the guard), but 2.1x that lands under b + 0.5b
    // cannot happen (2.1b > 1.5b), so the guard never suppresses a >2x
    // drift on entries above 0.3 s
    assert(Bench.isContended(Some(8.0), 16.8, 16.5))
  }

  test("calibration workload completes under ANSI mode (no sum overflow)") {
    // the original sum(xxhash64) formulation overflowed a long over 64M
    // uniform hashes and ANSI mode turned that into a task failure; the
    // bit_xor reduction must produce a stable nonzero hash
    val h = Bench.calibrationHash(TestSpark.spark)
    assert(h != 0L)
    assert(Bench.calibrationHash(TestSpark.spark) === h) // deterministic
  }

  test("isContaminated: the BENCH_r16 case — clean start, degraded end") {
    // round 16 verbatim: suite-start calibration at baseline (0.954),
    // end-of-suite calibration at 2.1x its row, 16 of 170 entries
    // retried — the box degraded ~2x MID-run. Either signal alone must
    // fire the flag: the end-drift...
    assert(Bench.isContaminated(Some(0.954), Some(2.1), 0, 170))
    // ...and the retry fraction (16 > 5% of 170)
    assert(Bench.isContaminated(Some(0.954), Some(1.0), 16, 170))
    // a degraded-from-the-start box (round-14 signature) also fires
    assert(Bench.isContaminated(Some(2.3), Some(2.2), 3, 170))
  }

  test("isContaminated: a healthy run does not flag") {
    // both calibrations near 1.0, retries within the 5% noise allowance
    assert(!Bench.isContaminated(Some(0.95), Some(1.1), 4, 170))
    // boundary: exactly 1.5x calibration does not fire (strictly above does)
    assert(!Bench.isContaminated(Some(1.5), Some(1.5), 0, 170))
    assert(Bench.isContaminated(Some(1.51), Some(1.0), 0, 170))
    // missing calibration rows (non-sf0.1 run): only the retry criterion
    assert(!Bench.isContaminated(None, None, 4, 170))
    assert(Bench.isContaminated(None, None, 9, 170))
  }

  test("retrySeverity ranks the worst offenders first (r17 artifact case)") {
    // b04 at 7x its row must outrank an a-family entry at 2.3x — the
    // r17 full-suite run spent its whole take(16) retry budget on the
    // a-family (suite order) while b04 went un-retried
    val b04 = Bench.retrySeverity(Some(1.04), 7.28, 6.9)
    val a01 = Bench.retrySeverity(Some(0.42), 0.97, 0.9)
    assert(b04 > a01)
    // no baseline row: severity falls back to the entry's own floor
    assert(Bench.retrySeverity(None, 6.0, 2.0) === 3.0)
    // degenerate floor: severity neutral, never NaN/Inf
    assert(Bench.retrySeverity(None, 6.0, 0.0) === 1.0)
  }

  test("parseBaselineRows carries the floor column alongside the median") {
    val md =
      """| entry | sec | floor |
        ||---|---|---|
        || s04_stream_dedup | 2.19 | 1.27 |
        || b12_zarr_native_scan | 0.27 | 0.19 |
        |""".stripMargin
    val f = java.io.File.createTempFile("baseline", ".md")
    try {
      java.nio.file.Files.write(f.toPath,
        md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(Bench.parseBaselineRows(f.getPath) === Map(
        "s04_stream_dedup" -> ((2.19, 1.27)),
        "b12_zarr_native_scan" -> ((0.27, 0.19))))
    } finally f.delete()
  }

  test("governRow caps host-noisy medians at 1.5x floor, healthy rows untouched") {
    // the r17 ADVICE case: s04's row (2.19 median / 1.27 floor) was
    // measured on a 1.05-1.9x degraded host — raw, a sustained ~1.7x
    // regression over the honest floor would never trigger a retry
    assert(Bench.governRow(2.19, 1.27) === 1.5 * 1.27)
    // healthy-epoch rows (median <= ~1.4x floor) pass through unchanged
    assert(Bench.governRow(0.27, 0.19) === 0.27)
    assert(Bench.governRow(0.26, 0.23) === 0.26)
    // degenerate floor: median stands
    assert(Bench.governRow(1.0, 0.0) === 1.0)
  }

  test("interpolateHostFactor: piecewise-linear between probes, clamped at ends") {
    val probes = Seq((0, 1.0), (50, 2.0), (100, 1.5))
    assert(Bench.interpolateHostFactor(probes, 25) === 1.5) // midpoint
    assert(Bench.interpolateHostFactor(probes, 0) === 1.0)
    assert(Bench.interpolateHostFactor(probes, 75) === 1.75)
    assert(Bench.interpolateHostFactor(probes, -5) === 1.0) // clamp low
    assert(Bench.interpolateHostFactor(probes, 400) === 1.5) // clamp high
    // no probes: unnormalized run, factor 1
    assert(Bench.interpolateHostFactor(Nil, 10) === 1.0)
    // single probe: constant factor
    assert(Bench.interpolateHostFactor(Seq((10, 2.0)), 0) === 2.0)
    // non-positive factors (failed calibration) are dropped, not trusted
    assert(Bench.interpolateHostFactor(Seq((0, -1.0), (10, 2.0)), 5) === 2.0)
    // unsorted input is sorted by position before interpolation
    assert(Bench.interpolateHostFactor(Seq((50, 2.0), (0, 1.0)), 25) === 1.5)
  }

  test("interpolateHostFactor localizes the BENCH_r17 mid-run degradation") {
    // r17's artifact had only the endpoints (1.124 at entry 0, 2.040 at
    // entry 171): every mid-suite entry was forced onto one straight
    // line and which families paid was unknowable. With a mid-suite
    // probe showing the box still healthy at halfway (x50 = 1.15), the
    // first half normalizes near 1.1 while the second half absorbs the
    // degradation — the localization the round-17 verdict asked for.
    val twoPoint = Seq((0, 1.124), (171, 2.040))
    val fivePoint = Seq((0, 1.124), (43, 1.13), (86, 1.15), (129, 1.80), (171, 2.040))
    // entry 40 (first quarter): two-point blames it for ~1.34x of host
    // noise it may never have seen; five-point keeps it near its truth
    assert(math.abs(Bench.interpolateHostFactor(twoPoint, 40) - 1.338) < 0.01)
    assert(math.abs(Bench.interpolateHostFactor(fivePoint, 40) - 1.130) < 0.01)
    // entry 150 (degraded tail): five-point assigns the full factor
    assert(Bench.interpolateHostFactor(fivePoint, 150) > 1.9)
  }

  test("headline queries map keeps every entry ever shipped in a driver artifact") {
    // Contract: entries may be ADDED to the bench line's `queries` map but
    // never removed or renamed. BENCH_r17.json (the last driver-captured
    // artifact) carried exactly these 57 names; a mid-r18 edit dropped six
    // (a05/a10/a12/a24/a29/a31) to make byte room for the normalization
    // fields — the room must come from unprotected fields instead.
    val r17Shipped = Seq(
      "q01_tpch_agg", "q05_m2m_semi_join", "q09_search_rank",
      "q10_is_latest_window", "q19_window_tumbling", "q21_join_agg_revenue",
      "q22_salted_join", "q26_asof_join", "q27_range_join", "q31_get_ladder",
      "q32_include_annotation", "b01_ingest_1k_dedup", "b02_bfs_10_levels",
      "b05_lineitem_stats_exact", "b07_cc_190k_edges", "b08_new_docs_bloom",
      "b10_skewed_dups", "b11_h5ad_native_scan", "b12_zarr_native_scan",
      "b13_zarr_sharded_scan", "a19_zarr_v3_scan", "a23_zarr_v3_sink_roundtrip",
      "a24_zarr_append", "a28_zarr_v3_append", "a29_zarr_dense_append",
      "a31_zarr_aux_append", "a33_spatial_zarr_sink", "a20_spatial_table",
      "c01_validate", "c04_cat_violations", "d01_exact_dedup",
      "d02_token_stats", "d05_minhash_lsh", "d06_simhash", "d07_langid",
      "d09_minhash_portable", "d10_simhash_portable", "d34_simhash128",
      "d11_pii_detect", "d17_dup_clusters", "d23_dsir_topk",
      "d24_substring_spans", "e01_knn_cosine", "e03_embedding_dedup",
      "e05_embedding_dedup_lsh", "e09_bm25_topk", "l01_label_weights",
      "m01_multimodal_decode", "m03_resize_roundtrip", "a03_anndata_append",
      "a05_h5ad_x_colsum", "a10_h5ad_dsv2_scan", "a12_zarr_native_scan",
      "s01_stream_window", "s04_stream_dedup",
      "x00_calibration", "x99_calibration")
    val missing = r17Shipped.filterNot(Bench.headlineEntries.contains)
    assert(missing.isEmpty, s"contract-protected queries entries missing from the line: $missing")
  }

  test("worst-case bench line stays under the driver's ~2 KB stdout-tail capture") {
    // Simulate the line at adversarial field widths: every headline entry
    // at a 6-char median (99.999 — nothing in four rounds has exceeded
    // 17 s), the total at 4 integer digits, all five calibration points
    // present, retries maxed, contamination fields fully populated. The
    // driver keeps ~1,926 usable bytes of tail after trailing sbt noise
    // (BENCH_r09's 3.2 KB line arrived head-truncated and parsed null).
    val qs = Bench.headlineEntries
      .map(k => "\"" + k + "\":99.999").mkString("{", ",", "}")
    val drift = """"calib_drift":9.999,"calib_drift_end":9.999,""" +
      """"contaminated":false,""" +
      """"calib_points":[[0,9.99],[47,9.99],[91,9.99],[135,9.99],[179,9.99]],""" +
      """"normalized_total":9999.999,"normalized_ratio":99.999,"""
    val line = Bench.formatLine("9999.999", 9999, qs, 16, drift,
      "BENCH_DETAIL_32.json", "/root/testdata/sf0.1")
    assert(line.length < 1900, s"line would be ${line.length} bytes")
  }

  test("a throwing entry lands in errors, on the line and out of the normalization") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var runs = 0
    val (med, floor) = Bench.median3("q01_ok", errors) { runs += 1 }
    assert(runs === 4) // one warm run + three timed
    assert(med >= 0 && floor >= 0 && floor <= med)
    var tries = 0
    val failed = Bench.median3("d06_boom", errors) {
      tries += 1
      if (tries == 3) throw new IllegalStateException("boom")
    }
    assert(failed === ((-1.0, -1.0)))
    assert(Bench.median3("e01_npe", errors)(throw new NullPointerException) === ((-1.0, -1.0)))
    assert(errors.toSeq === Seq("d06_boom" -> "java.lang.IllegalStateException",
      "e01_npe" -> "java.lang.NullPointerException"))
    assert(Bench.errorsLineField(errors.toSeq) ===
      """"errors":{"d06_boom":"IllegalStateException"},"n_errors":2,""")
    assert(Bench.errorsLineField(Nil) === "")
  }

  test("worst-case failing-run line stays under the driver's ~2 KB stdout-tail capture") {
    // a failing run's line drops the normalization fields for the errors
    // field: a 32-char entry name with a 40-char exception class
    val qs = Bench.headlineEntries
      .map(k => "\"" + k + "\":99.999").mkString("{", ",", "}")
    val drift = """"calib_drift":9.999,"calib_drift_end":9.999,"contaminated":false,""" +
      Bench.errorsLineField(Seq(("e" * 32) -> ("org.apache.spark." + "X" * 40)) ++
        Seq.fill(998)("q" -> "java.lang.Error"))
    val line = Bench.formatLine("9999.999", 9999, qs, 16, drift,
      "BENCH_DETAIL_32.json", "/root/testdata/sf0.1")
    assert(line.length < 1900, s"line would be ${line.length} bytes")
  }

  test("keepsRetry: single retry-keep rule for median AND normalization position") {
    // faster valid retry replaces the first pass
    assert(Bench.keepsRetry((2.0, 1.8), (1.5, 1.4)))
    // slower retry is discarded
    assert(!Bench.keepsRetry((1.0, 0.9), (1.5, 1.2)))
    // failed retry (-1) never replaces
    assert(!Bench.keepsRetry((1.0, 0.9), (-1.0, -1.0)))
    // equal medians keep the first pass (strict <)
    assert(!Bench.keepsRetry((1.0, 0.9), (1.0, 0.8)))
  }

  test("isContended: own-floor disagreement fires without a baseline") {
    // median 3.1x its own min (the r14 d06 signature: 6.36 vs ~1.9 min)
    assert(Bench.isContended(None, 6.36, 2.0))
    // tight median/min agreement: no retry
    assert(!Bench.isContended(None, 1.11, 1.07))
    // small absolute spread on a fast entry: guarded
    assert(!Bench.isContended(None, 0.30, 0.10))
    // failed entry (-1) never retries
    assert(!Bench.isContended(Some(1.0), -1.0, -1.0))
  }

  test("measurementPosition: kept retries normalize at the last probe, first-pass at its own slot") {
    // r18 review: a retry is measured AFTER x99 — dividing it by the
    // host factor at the entry's ORIGINAL position would mis-normalize
    // exactly the degraded-mid-run artifacts normalization exists for
    // (first-pass at pos 100 under a 2x factor, healthy 1x retry: the
    // kept 2 s must divide by the END factor, not the inflated mid one)
    assert(Bench.measurementPosition(100, keptRetry = false, lastProbePos = 179) == 100)
    assert(Bench.measurementPosition(100, keptRetry = true, lastProbePos = 179) == 179)
  }
}
