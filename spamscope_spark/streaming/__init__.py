"""Structured Streaming layer: watermarked stateful pipeline, keyed
dedup state, exactly-once idempotent sink, metrics."""

import warnings

# pyspark's applyInPandasWithState serializer pads every output batch with
# all-NA rows before pd.concat (pyspark/sql/pandas/serializers.py), and
# pandas >= 2.1 answers each padded batch with a FutureWarning on the
# worker's stderr. The Arrow schema fixes the column types either way. The
# state functions are closures pickled by value, so their own modules are
# never imported in the Python worker; the kernel modules they reference
# are, and with them this package, which installs the filter there. Scoped
# to that one message from that one module: every other warning still shows.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries",
    category=FutureWarning,
    module="pyspark.sql.pandas.serializers",
)
