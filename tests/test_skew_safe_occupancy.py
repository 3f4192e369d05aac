"""The occupancy cap on a 10^5-row hot key.

``_occupancy_capped`` counts block occupancy with a window over the
blocking keys: one exchange, reused by the intra-block self-join that
follows.  The adversarial fixture here is one 10^5-row hot key beside
normal keys; the split is checked against a brute-force Python count of
the same rows, and the plan is pinned to the windowed form.
"""

import contextlib
import io
from collections import Counter

import pyspark.sql.functions as F

HOT_N = 100_000
CAP = 4096


def _fixture(spark):
    """One 10^5-row hot key (0) + 50 keys of 10 rows, spread over many
    input partitions."""
    hot = spark.range(HOT_N).select(F.lit(0).alias("k"),
                                    F.col("id").alias("v"))
    cold = (spark.range(500)
            .select((F.col("id") % 50 + 1).alias("k"),
                    (F.col("id") + HOT_N).alias("v")))
    return hot.unionByName(cold).repartition(16)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_window_split_matches_bruteforce_count(spark):
    from pdf_extractor_spark.corpus import _occupancy_capped
    df = _fixture(spark)
    rows = [(r.k, r.v) for r in df.collect()]
    occupancy = Counter(k for k, _ in rows)
    want_kept = sorted(v for k, v in rows if occupancy[k] <= CAP)
    want_dropped = {(k, n) for k, n in occupancy.items() if n > CAP}
    kept, dropped = _occupancy_capped(df, ["k"], CAP)
    assert sorted(r.v for r in kept.collect()) == want_kept
    assert {(r.k, r.bsz) for r in dropped.collect()} == want_dropped \
        == {(0, HOT_N)}


def test_window_form_does_use_window(spark):
    """The cap's trade (reused exchange, windowed count) is the
    documented one — pin it so a silent form-swap shows up here."""
    from pdf_extractor_spark.corpus import _occupancy_capped
    kept, _ = _occupancy_capped(_fixture(spark), ["k"], CAP)
    assert "Window" in _plan(kept)
