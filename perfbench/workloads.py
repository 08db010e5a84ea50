"""The benchmark's workloads.

Each workload generates its inputs from the seed (:meth:`prepare`,
before Spark starts), warms the engine with untimed operations, and then
runs a fixed number of *passes* in a closed loop (one client, one
operation at a time).  A pass is a list of operations; every
operation's output is checked, and an operation that raises or fails
its check counts as failed.

- ``hic_pipeline``: one operation = ``api.run_pipeline_files`` file to
  file; its written ``significances.parquet`` is compared with the
  independent pandas dataflow (``tests/pandas_ref.py``).
- ``query_sweep``: one operation = one registry key built and run
  through the noop sink; a pass is the whole key basket in seeded
  order.  Each key is compared with its DuckDB oracle once, before the
  timed loop.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pandas as pd

import gen

#: input sizes per workload; "tiny" is the self-test smoke size
SIZES = {
    "full": {
        "hic_pipeline": {"n_draws": 60_000, "nbins": 1000},
        "query_sweep": {"scale": 1.0},
    },
    "tiny": {
        "hic_pipeline": {"n_draws": 8_000, "nbins": 200},
        "query_sweep": {"scale": 0.2},
    },
}
#: untimed hic_pipeline calls before the timed loop
WARM_CALLS = 3

#: registry keys of the sweep: oracle-backed, free of per-application
#: write guards, passing their oracle on the generated fixture, and
#: spanning the registry's domains (aggregates, windows, relational,
#: multimodal, streaming, lakehouse merge, hic, llmops dedup, graph and
#: stats), with both execution-heavy keys and keys that run jobs while
#: they are being built.  About 5 s per pass on a 4-core host.
SWEEP_KEYS = (
    "q_agg_group",
    "q_window_cume_dist",
    "q_join_interval_overlap",
    "q_multimodal_meta",
    "q_stream_session",
    "q_scd2_merge",
    "q_contact_prior",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_pagerank",
    "q_granger_lag1",
)

# --- hic_pipeline -----------------------------------------------------

HIC_COLS = ["chr1", "mid1", "chr2", "mid2", "contact_count", "p_value", "q_value", "bias1", "bias2"]
#: SigConfig of the timed calls (the reference's defaults, two passes)
HIC_BINS, HIC_PASSES = 100, 2


def hic_reference(info: dict) -> pd.DataFrame:
    """Expected significances from the pandas dataflow, read from the
    same TSV files the engine reads."""
    from pandas_ref import run_significance_pandas

    contacts = pd.read_csv(
        info["contacts"]["path"], sep="\t", header=None,
        names=["chr1", "mid1", "chr2", "mid2", "contact_count"],
    )
    biases = pd.read_csv(
        info["biases"]["path"], sep="\t", header=None, names=["chr", "mid", "bias"]
    )
    ref = run_significance_pandas(
        contacts, biases, nbins_grid=info["nbins"], n_bins=HIC_BINS,
        passes=HIC_PASSES, n_chroms=info["chrs"],
    )
    return ref.sort_values(["chr1", "mid1", "chr2", "mid2"]).reset_index(drop=True)


def hic_matches(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` at the tolerances of
    tests/test_hic_pipeline.py, else the first mismatch."""
    got = got.sort_values(["chr1", "mid1", "chr2", "mid2"]).reset_index(drop=True)
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    keys = ["chr1", "mid1", "chr2", "mid2", "contact_count"]
    try:
        pd.testing.assert_frame_equal(got[keys], want[keys], check_dtype=False)
        for col, rtol, atol in (
            ("bias1", 1e-12, 0.0), ("bias2", 1e-12, 0.0),
            ("p_value", 1e-9, 1e-300), ("q_value", 1e-9, 1e-300),
        ):
            np.testing.assert_allclose(got[col], want[col], rtol=rtol, atol=atol)
    except (AssertionError, KeyError) as exc:
        return str(exc)[:500]
    return None


class HicPipeline:
    name = "hic_pipeline"
    #: nominal seconds per pass on a 4-core host; sets the pass count
    pass_s = 2.5

    def prepare(self, work: str, seed: int, size: str) -> dict:
        sz = SIZES[size][self.name]
        self.inputs = gen.write_hic_inputs(
            os.path.join(work, "inputs", f"hic-{size}-{seed}"), seed, **sz
        )
        self.out = os.path.join(work, "out", self.name)
        self.rows = self.inputs["contacts"]["rows"]
        t = time.perf_counter()
        self.expected = hic_reference(self.inputs)
        self.reference_s = time.perf_counter() - t
        return {k: v for k, v in self.inputs.items() if isinstance(v, dict)}

    def warm(self, spark) -> None:
        # the JIT keeps speeding calls up for a few calls after the first
        for _ in range(WARM_CALLS):
            self.run_op(spark, self.name)

    def ops(self):
        return [self.name]

    def run_op(self, spark, op) -> None:
        from pfithic_spark import api, hic

        paths = [self.inputs[k]["path"] for k in ("contacts", "fragments", "biases")]
        cfg = hic.SigConfig(n_bins=HIC_BINS, passes=HIC_PASSES)
        api.run_pipeline_files(spark, *paths, self.out, cfg)

    def check_op(self, spark, op) -> str | None:
        got = pd.read_parquet(os.path.join(self.out, "significances.parquet"))
        return hic_matches(got[HIC_COLS], self.expected)


# --- query_sweep ------------------------------------------------------

def tables_read(sql: str) -> list[str]:
    """Fixture tables an oracle SQL text references."""
    from oracle_harness import FIXTURE_TABLES

    return [t for t in FIXTURE_TABLES if re.search(rf"\b{t}\b", sql)]


class QuerySweep:
    name = "query_sweep"
    pass_s = 5.0

    def prepare(self, work: str, seed: int, size: str) -> dict:
        self.fixture = os.path.join(work, "inputs", f"sweep-{size}-{seed}")
        info = gen.write_fixture(self.fixture, seed, **SIZES[size][self.name])
        rng = np.random.default_rng([seed, 5])
        self.order = [SWEEP_KEYS[i] for i in rng.permutation(len(SWEEP_KEYS))]
        import __spark_entry__ as entry

        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.rows = sum(
            info[t]["rows"] for k in self.order for t in tables_read(self.oracles[k])
        )
        self.reference_s = 0.0
        info["order"] = self.order
        return info

    def warm(self, spark) -> None:
        """Check every key against its oracle once (this also warms the
        plans the timed loop runs)."""
        from oracle_harness import compare, oracle_connection

        self.key_error = {}
        t = time.perf_counter()
        con = oracle_connection(self.fixture)
        try:
            for key in self.order:
                try:
                    compare(self.queries[key](spark, self.fixture), con, self.oracles[key], key)
                    self.key_error[key] = None
                except Exception as exc:  # a failing key must not hide the rest
                    self.key_error[key] = f"{type(exc).__name__}: {str(exc)[:300]}"
                spark.catalog.clearCache()
        finally:
            con.close()
        self.reference_s = time.perf_counter() - t

    def ops(self):
        return list(self.order)

    def build(self, spark, key):
        return self.queries[key](spark, self.fixture)

    def execute(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, spark, key) -> None:
        self.execute(self.build(spark, key))

    def check_op(self, spark, key) -> str | None:
        """The key's oracle verdict from :meth:`warm`.  Also drops the
        blocks the key cached, outside the timed region, so the next key
        starts clean."""
        spark.catalog.clearCache()
        return self.key_error.get(key, "not checked")


WORKLOADS = {w.name: w for w in (HicPipeline, QuerySweep)}
