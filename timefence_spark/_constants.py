"""Engine-wide constants.

Parity with reference /root/reference/src/timefence/_constants.py:1-25
(tolerances, defaults, severity thresholds) — values must match so audit
severity classification and diff tolerances agree with the reference.
"""

# numpy.allclose-style comparison tolerances (reference _constants.py:4-5)
DEFAULT_ATOL: float = 1e-10
DEFAULT_RTOL: float = 1e-7

# Temporal defaults (reference _constants.py:8-9)
DEFAULT_MAX_LOOKBACK: str = "365d"
DEFAULT_MAX_LOOKBACK_DAYS: int = 365

DEFAULT_ON_MISSING: str = "null"

# Severity classification thresholds (reference _constants.py:16-19)
SEVERITY_HIGH_PCT: float = 0.05
SEVERITY_MEDIUM_PCT: float = 0.01
SEVERITY_HIGH_DAYS: int = 7
SEVERITY_MEDIUM_DAYS: int = 1

DEFAULT_STORE_PATH: str = ".timefence_spark"

CACHE_KEY_LENGTH: int = 16

# Spark-specific tuning knob (no reference equivalent — scale-path config).
# Cap on features resolved in ONE union/window pass (pit_match_multi). The
# single-pass plan's union row width, window expression count, and sort-key
# list all grow linearly with the features in the group; past ~a dozen the
# wide mostly-NULL rows blow up sort memory (observed: 1M labels x 50
# features spilled the union sort and ran ~4x past linear). Larger feature
# sets split into chunks of this size, each a narrow single-pass window,
# recombined on the spine row id.
UNION_GROUP_MAX_FEATURES: int = 12
