"""The benchmark's workloads: closed loops of registered queries.

Each workload is one client (the benchmark process) running its op types in
a fixed order drawn from the seed, the same number of times each: a run
makes ``passes`` timed passes over the op types (more only if ``--seconds``
has not yet passed). An op is one registry call plus materializing every
column of the DataFrame it returns.

Op types and pass counts are sized so that a run, JVM start and warm-up
included, takes about a minute on a 4-vCPU host, and so that every run has
more than ten ops for the tail percentile.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    passes: int
    # Untimed passes before the timed ones, the first of them cold. The
    # process tree's CPU per pass falls to about 40% of the cold pass on the
    # second pass, and by a further 5-20% per pass for several passes after
    # that (JIT compilation); the time budget of all runs caps the count.
    warmup: int = 2


WORKLOADS: dict[str, Workload] = {
    # The analyst's interactive questions: 2-10 Spark jobs each, little
    # construction time, no Python workers, no writes, nothing streams. The
    # per-job floor does most of the work. One op type per query shape (CDC,
    # agent dedup, wide aggregate, multi-way join, anti-join, window, range
    # join): seven types run twice cost less JIT warm-up and set-up than
    # fourteen run once, for the same number of timed ops.
    "deals_sql": Workload(
        ops=(
            "j1_cdc_classify",
            "flagship_agent_dedup",
            "tpch_q1_pricing_summary",
            "tpch_q5_local_supplier_volume",
            "tpch_q21_sole_returner",
            "e2_sessionize",
            "range_join_daily_overlap",
        ),
        passes=2,
    ),
    # The investor's poll loop: a streaming replay runs inside the registry
    # call, and the loop writes beside its reads (sink files, checkpoints,
    # catalog commits, merge-on-read deletes). c17 is the stream: it decodes
    # and fingerprints each micro-batch in Python workers (mapInPandas).
    "poll_stream": Workload(
        ops=(
            "io_catalog_txn",
            "io_mor_delete",
            "flagship_full_cycle",
            "c17_stream_media_dedup",
        ),
        passes=3,
        warmup=3,
    ),
    # The LLM-data user: Python/numpy UDF kernels and construct-time trainers
    # do the work; nothing streams and nothing is written.
    "corpus_dedup": Workload(
        ops=(
            "x1_exact_dedup",
            "x2_minhash_near_dup",
            "x2_simhash_arith_near_dup",
            "x3_ivfpq_stored_topk",
            "x4_lm_perplexity_filter",
            "x5_image_near_dup_banded",
        ),
        passes=2,
    ),
}


def op_order(workload: str, seed: int) -> list[str]:
    """The workload's op types in the order every pass of this seed runs them."""
    ops = list(WORKLOADS[workload].ops)
    random.Random(f"{workload}:{seed}").shuffle(ops)
    return ops
