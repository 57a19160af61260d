"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose the engine's operator surface
(SURVEY.md §2 shapes + pipeline extensions) for the sf0.01 DuckDB
correctness gate. Implementations live in
``distribution_engine_smt_spark.driver_queries`` (+ ``pipeline.*``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from distribution_engine_smt_spark import driver_queries  # noqa: E402
from distribution_engine_smt_spark import pipeline  # noqa: E402,F401  (registers extension queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (get_discussions_by_created shape: broadcast dimension
    left join + muted suppression + pushed-down range filter + top-k) on
    /root/testdata/sf0.001."""
    return driver_queries.discussions_by_created(spark, "/root/testdata/sf0.001")


# ROTATION POLICY (standing rule): the driver caps its oracle pass at 50
# queries per round (docs/PLANS.md "Driver 50-query cap"), so the head of
# queries() rotates. Every query whose implementation changed in the
# CURRENT change is covered by its correctness evidence — one
# representative per touched family sits inside the 50-slot head
# (_ROUND_MODIFIED) and every touched query is hash-checked in the
# committed full-registry LOCAL_CORRECTNESS artifact (local_correctness.py).
# The rest of the head is computed, not hand-kept: registered queries
# ordered stalest driver evidence first (last driver-green round in
# CORRECTNESS_r*.json, ties by name), so no query's evidence can age past
# _MAX_EVIDENCE_AGE rounds (tests/test_local_correctness.py pins that
# bound; tests/test_driver_queries.py pins the placement).
_ROUND_MODIFIED = [
    # one representative per derived-artifact store whose build and
    # read-or-derive moved onto the declared operators.storage.Store
    "cross_source_dup_matrix",  # pairs
    "dedup_minhash_lsh",  # minhash signatures + shingle postings
    "dedup_clusters",  # clusters
    "ann_ivf_kmeans_nprobe",  # k-means fit
    "ann_ivf_sharded_topk",  # sharded IVF
    "clustered_adaptive_topk_p1",  # adaptive IVF
    "clustered_adaptive_ivfpq_topk",  # adaptive IVF-PQ codes
    "ann_pq_topk",  # PQ codes
    "ann_pq_trained_topk",  # PQ codebook
    "ann_ivfpq_topk",  # IVF-PQ codes
    "dedup_embedding_lsh",  # RHP bands
    "embedding_lsh_recall_audit",  # embedding pair sets
    "lsh_recall_audit",  # ngram pair sets
    "clustered_mass_semdedup_audit",  # mass-fixture semantic pairs
    "clustered_adaptive_occupancy_audit",  # mass-fixture fit
    "clustered_ivfpq_residual_recall_audit",  # CF-fixture fit
]
_DRIVER_CAP = 50
_MAX_EVIDENCE_AGE = 4


def _driver_green_rounds() -> tuple[int, dict[str, int]]:
    """(max recorded driver round, {query: latest driver-green round})
    — green means a hash match, or a row match with no error."""
    import glob
    import json
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    max_round = 0
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(f) as fh:
            for q, rec in json.load(fh).items():
                if rec.get("hash_match") or (
                    rec.get("rows_match") and rec.get("err") is None
                ):
                    latest[q] = max(latest.get(q, 0), rnd)
    return max_round, latest


def _rotation() -> tuple[list[str], list[str]]:
    """(_DRIVER_PRIORITY, _DRIVER_ROTATE_LAST): the stalest queries fill
    the head after _ROUND_MODIFIED; everything else rotates past it."""
    max_round, latest = _driver_green_rounds()
    stalest = sorted(driver_queries.QUERIES, key=lambda q: (latest.get(q, 0), q))
    overdue = {
        q for q in stalest if max_round + 1 - latest.get(q, 0) > _MAX_EVIDENCE_AGE
    }
    if len(overdue | set(_ROUND_MODIFIED)) > _DRIVER_CAP:
        raise RuntimeError(
            f"{len(overdue)} queries with overdue driver evidence plus "
            f"{len(_ROUND_MODIFIED)} modified-family representatives exceed "
            f"the {_DRIVER_CAP}-query driver head"
        )
    rest = [q for q in stalest if q not in _ROUND_MODIFIED]
    n_head = _DRIVER_CAP - len(_ROUND_MODIFIED)
    return rest[:n_head], rest[n_head:]


_DRIVER_PRIORITY, _DRIVER_ROTATE_LAST = _rotation()


def _ordered(names: list[str]) -> list[str]:
    head = [n for n in _DRIVER_PRIORITY if n in names]
    head += [n for n in _ROUND_MODIFIED if n in names and n not in head]
    tail = [n for n in _DRIVER_ROTATE_LAST if n in names]
    mid = [n for n in names if n not in set(head) | set(tail)]
    return head + mid + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = driver_queries.QUERIES
    return {n: q[n] for n in _ordered(list(q))}


def oracle_sql() -> dict[str, str]:
    o = driver_queries.ORACLE_SQL
    return {n: o[n] for n in _ordered(list(driver_queries.QUERIES)) if n in o}
