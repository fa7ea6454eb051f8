"""Calibration-normalized confirmed_slow guard (r12 verdict #2).

The r10/r11/r12 rounds each spent adjudication effort separating
host-generation drift from code regressions; the probes (bench.py
``_calibration``) made that attribution mechanical, and these tests pin
the step that CLOSES it: the flag logic itself normalizes by the probe
ratio, so a drifted host produces zero false flags while a real code
regression — which moves a query without moving the fixed probes —
still fires. Scenario numbers below are the actual r12 artifact's
(cal sp0 0.209 vs builder-run 0.117 ≈ 1.8×; all 11 flags at a uniform
1.9-2.1× prior)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _host_ratio, _is_slow_vs_prior

# the r11-committed cal block shape (prior round, healthy host)
PRIOR_CAL = {"py0": 0.150, "sp0": 0.117, "sc0": 0.123,
             "py1": 0.152, "sp1": 0.118, "sc1": 0.125}


class TestHostRatio:
    def test_healthy_host_ratio_near_one(self):
        cur = {"python_spin_s": 0.151, "spark_probe_s": 0.117,
               "scan_probe_s": 0.124}
        assert abs(_host_ratio(cur, PRIOR_CAL) - 1.0) < 0.05

    def test_degraded_host_ratio_tracks_probes(self):
        # the r12 driver artifact's start-of-sweep state: ~1.8-2.0×
        cur = {"python_spin_s": 0.290, "spark_probe_s": 0.209,
               "scan_probe_s": 0.247}
        r = _host_ratio(cur, PRIOR_CAL)
        assert 1.7 <= r <= 2.1, r

    def test_no_prior_cal_means_unit_ratio(self):
        cur = {"python_spin_s": 0.3, "spark_probe_s": 0.3,
               "scan_probe_s": 0.3}
        assert _host_ratio(cur, None) == 1.0
        assert _host_ratio(cur, {}) == 1.0

    def test_median_over_probes_resists_one_outlier(self):
        # one probe wildly off (e.g. a page-cache-cold scan) must not
        # swing the normalization: median of {1.0, 1.0, 5.0} = 1.0
        cur = {"python_spin_s": 0.151, "spark_probe_s": 0.117,
               "scan_probe_s": 0.615}
        assert _host_ratio(cur, PRIOR_CAL) < 1.1

    def test_two_ratio_count_takes_lower_median(self):
        # a prior cal block missing one probe pair leaves 2 ratios; the
        # LOWER median must win — taking the max would let one drifted
        # probe (here the scan leg at 5x) normalize away a genuine
        # regression
        pri = {"py0": 0.150, "py1": 0.152, "sc0": 0.123, "sc1": 0.125}
        cur = {"python_spin_s": 0.151, "spark_probe_s": 0.117,
               "scan_probe_s": 0.615}
        assert _host_ratio(cur, pri) < 1.1

    def test_prior_best_uses_min_of_start_end(self):
        # prior round started degraded and recovered (the r12 shape):
        # its best host state (the *1 values) is the honest base
        pri = {"py0": 0.30, "sp0": 0.21, "sc0": 0.25,
               "py1": 0.15, "sp1": 0.117, "sc1": 0.123}
        cur = {"python_spin_s": 0.15, "spark_probe_s": 0.117,
               "scan_probe_s": 0.123}
        assert abs(_host_ratio(cur, pri) - 1.0) < 0.05


class TestNormalizedFlag:
    def test_drifted_host_produces_zero_flags(self):
        # the r12 scenario: every wall at ~2× prior, probes also at 2×
        # → normalized threshold 1.5 × prior × 2 = 3× prior → no flag
        for prior in (0.5, 1.7, 6.67):
            assert not _is_slow_vs_prior(2.0 * prior, prior, 2.0)

    def test_real_regression_still_fires_on_drifted_host(self):
        # a genuine 4× code regression on the same 2×-drifted host
        # exceeds even the normalized threshold
        assert _is_slow_vs_prior(4.0 * 1.7, 1.7, 2.0)

    def test_real_regression_fires_on_healthy_host(self):
        assert _is_slow_vs_prior(2.0 * 1.7, 1.7, 1.0)

    def test_faster_host_cannot_manufacture_flags(self):
        # host 2× FASTER (ratio 0.5), wall unchanged vs prior: the
        # floor at 1.0 keeps the threshold at 1.5× prior → no flag
        assert not _is_slow_vs_prior(1.2 * 1.7, 1.7, 0.5)

    def test_no_prior_never_flags(self):
        assert not _is_slow_vs_prior(100.0, None, 1.0)
        assert not _is_slow_vs_prior(100.0, 0.0, 1.0)


class TestThroughputFlag:
    """_is_slow_bps — the blocks/s twin of the wall-time guard
    (r13 verdict #1). Throughput inverts: slower host ⇒ LOWER blocks/s
    is expected, so the prior is divided by the ratio, not multiplied."""

    def test_drifted_host_produces_zero_flags(self):
        from bench import _is_slow_bps

        # host 2× slower, throughput exactly halved → explained, no flag
        for prior in (588.0, 1119.0, 12449.0):
            assert not _is_slow_bps(prior / 2.0, prior, 2.0)

    def test_real_collapse_still_fires_on_drifted_host(self):
        from bench import _is_slow_bps

        # a genuine 4× throughput collapse on a 2×-drifted host
        assert _is_slow_bps(1000.0 / 4.0, 1000.0, 2.0)

    def test_real_collapse_fires_on_healthy_host(self):
        from bench import _is_slow_bps

        assert _is_slow_bps(1000.0 / 2.0, 1000.0, 1.0)

    def test_faster_host_cannot_manufacture_flags(self):
        from bench import _is_slow_bps

        # host 2× faster (ratio 0.5), throughput unchanged: floor at 1
        # keeps the threshold at prior/1.5 → no flag
        assert not _is_slow_bps(1000.0, 1000.0, 0.5)

    def test_ratio_metric_uses_unit_host_factor(self):
        from bench import _is_slow_bps

        # a same-run ratio metric — host drift cancels, so the caller
        # passes host_ratio=1.0: a ratio near half its prior (0.45
        # against 0.876) MUST flag under that rule
        assert _is_slow_bps(0.45, 0.876, 1.0)
        # ...and a mild dip must not
        assert not _is_slow_bps(0.80, 0.876, 1.0)

    def test_no_prior_never_flags(self):
        from bench import _is_slow_bps

        assert not _is_slow_bps(100.0, None, 1.0)
        assert not _is_slow_bps(100.0, 0.0, 1.0)


class TestCalibrationMinShape:
    def test_norm_median_floor_matches_flag_rule(self):
        """r13 ADVICE: norm_median divides by max(1.0, ratio) — on a
        FASTER host (ratio < 1) the recorded norm_median must equal
        the raw median, symmetric with the flag rule's floor. Pins
        bench.py's ACTUAL helper (`_norm_wall`), not a local copy of
        the arithmetic — a revert to the old unfloored divisor form
        must fail here."""
        from bench import _norm_wall

        assert _norm_wall(2.0, 0.8) == 2.0
        assert _norm_wall(2.0, 1.6) == 1.25

    def test_norm_bps_floor_is_symmetric(self):
        """Throughput twin: raw × max(1.0, ratio) — a faster host
        (ratio < 1) must NOT deflate the normalized blocks/s."""
        from bench import _norm_bps

        assert _norm_bps(1000.0, 0.8) == 1000.0
        assert _norm_bps(1000.0, 1.44) == 1440.0
