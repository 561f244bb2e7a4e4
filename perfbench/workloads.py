"""The benchmark's workloads.

Each operation is a catalog entry (``ezdata_spark.queries.QUERIES``), the
engine module it is attributed to (its layer), and the tables it reads.
An operation's input rows are the row counts of those tables, so
``rows_per_s`` counts what a pass reads, not what it returns.

The tables are the catalog's sf0.01 fixture set, kept in ``data/``.
Why each workload was chosen is recorded in README.md.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@functools.cache
def table_rows(table: str) -> int:
    return pq.read_metadata(os.path.join(DATA, f"{table}.parquet")).num_rows


class Op(NamedTuple):
    query: str
    layer: str
    tables: tuple[str, ...]

    @property
    def input_rows(self) -> int:
        return sum(table_rows(t) for t in self.tables)


WORKLOADS: dict[str, list[Op]] = {
    # Relational core and analyst surface, one operation per layer: every
    # operation is sub-second, so the fixed cost per call (driver build,
    # footer inference, scheduling) dominates.
    "interactive": [
        Op("q01_selectwhere", "table", ("lineitem",)),
        Op("q30_top_per_group", "operators.window", ("orders",)),
        Op("q15_stats_table", "operators.stats", ("lineitem",)),
        Op("q26_histogram_1d", "operators.binned", ("lineitem",)),
        Op("q33_cone_search", "functions.astro", ("customer",)),
        Op("q41_tumbling_window", "streaming", ("events",)),
        Op("q113_zorder_layout", "operators.layout", ("lineitem",)),
        Op("q103_range_join", "operators.asof", ("lineitem", "nation")),
        Op("q127_rolling_zscore", "operators.timeseries", ("events",)),
        Op("q123_entropy_profile", "operators.profile", ("documents",)),
        Op("q64_salted_join", "operators.skew", ("lineitem", "orders")),
        Op("q117_scd2_merge", "operators.scd", ("customer", "orders")),
        Op("z155_random_projection", "operators.decomp", ("embeddings",)),
    ],
    # Batch corpus curation plus the artifact writers, one operation per
    # layer: bound by executors, shuffles, Python workers and staged
    # writes rather than by driver build, and bypassed by the relational
    # fixed-cost path above.
    "pipeline": [
        Op("q42_token_stats", "operators.textstats", ("documents",)),
        Op("q45_exact_dedup", "operators.dedup", ("documents",)),
        Op("q93_hash_split", "operators.corpus", ("documents",)),
        Op("q59a_heavy_hitters", "operators.frequent", ("documents",)),
        Op("q96_bpe_vocab", "operators.bpe", ("documents",)),
        Op("q90b_backoff_external", "operators.ann_index", ("documents",)),
        Op("q58_embedding_quantize", "operators.similarity", ("embeddings",)),
        Op("q99_votable_roundtrip", "sources", ("nation",)),
    ],
}

#: Every layer some workload attributes an operation to, in report order.
LAYERS = sorted({op.layer for ops in WORKLOADS.values() for op in ops})
