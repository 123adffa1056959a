"""Seeded codec fixtures shared by the codec unit tests and the payload
golden: constant runs, monotone ramps, uniform random, Zipf skew, empty,
single-element and int32 extremes (``INT_CASES``), and string streams
(``STR_CASES``)."""

import numpy as np

RNG = np.random.default_rng(42)

INT_CASES = {
    "const": np.full(10_000, 7, np.int32),
    "ramp": (np.arange(10_000, dtype=np.int32) + 50_000),
    "small_range": RNG.integers(0, 256, 10_000).astype(np.int32),
    "narrow_band": (50_000 + RNG.integers(0, 100, 10_000)).astype(np.int32),
    "zipf": np.minimum(RNG.zipf(1.3, 10_000), 32_000).astype(np.int32),
    "uniform": RNG.integers(0, 2**31 - 1, 10_000).astype(np.int32),
    "negative": RNG.integers(-1_000, 1_000, 10_000).astype(np.int32),
    "empty": np.zeros(0, np.int32),
    "single": np.array([2**31 - 1], np.int32),
    "extremes": np.array([-(2**31), 2**31 - 1, 0, -1], np.int32),
    "runs": np.repeat(RNG.integers(0, 50, 100), RNG.integers(1, 400, 100)).astype(np.int32),
}

STR_CASES = {
    "prefix_heavy": [f"web-{i:012d}" for i in range(3_000)],
    "low_card": ["web"] * 5_000 + ["code"] * 100 + ["books"] * 5,
    "empty_strings": ["", "", "x", ""],
    "none": [],
    "unicode": ["tøkén", "日本語", "ascii", ""] * 50,
}
