"""bench.py's extra-pass loop: when it keeps going and why it stops."""

from __future__ import annotations

from bench import MAX_EXTRA, extra_pass_stop


def test_in_band_stops_at_once():
    assert extra_pass_stop([5.0, 5.0], 0, skewed=False) == "in_band"


def test_stolen_passes_that_do_not_fall_stop_after_two():
    base = [9.0, 8.0]
    assert extra_pass_stop(base, 0, skewed=True) is None
    assert extra_pass_stop(base + [8.5], 1, skewed=True) is None
    assert extra_pass_stop(base + [8.5, 8.5], 2, skewed=True) == "steal_not_falling"


def test_falling_steal_keeps_the_loop_going():
    assert extra_pass_stop([9.0, 10.0, 7.0], 2, skewed=True) is None
    assert extra_pass_stop([9.0, 6.0, 7.0], 2, skewed=True) is None


def test_clean_passes_never_count_as_stalled():
    # skewed by divergence alone: steal is clean, so only the cap stops it
    assert extra_pass_stop([1.0, 1.5, 1.8], 2, skewed=True) is None
    steal = [1.0] * (MAX_EXTRA + 2)
    assert extra_pass_stop(steal, MAX_EXTRA, skewed=True) == "max_extra"
