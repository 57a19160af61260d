"""Physical-layout maintenance: small-file compaction and range-sorted
data skipping, proven from the parquet files themselves."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distribution_engine_smt_spark.operators import storage


@pytest.fixture()
def many_small_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string").cast("binary")).alias("pad")
    )
    # 40 tiny files: the post-many-micro-batches state of a merge target
    df.repartition(40).write.mode("overwrite").parquet(path)
    return path, df


def test_compact_reduces_file_count_data_identical(spark, many_small_files):
    path, df = many_small_files
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    report = storage.compact_table(spark, path, target_bytes=64 * 1024 * 1024)
    (leaf, (n_before, n_after)), = report.items()
    assert n_before == 40 and n_after < n_before
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == n_after
    after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after == before == list(range(20000))


def test_compact_noop_when_already_compact(spark, many_small_files):
    path, _ = many_small_files
    storage.compact_table(spark, path, target_bytes=64 * 1024 * 1024)
    report = storage.compact_table(spark, path, target_bytes=64 * 1024 * 1024)
    (leaf, (n_before, n_after)), = report.items()
    assert n_before == n_after  # second pass must not rewrite


def test_compact_partitioned_leaves_independently(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(0, 8000).select(
        F.col("id"), (F.col("id") % 4).alias("p")
    )
    df.repartition(10).write.mode("overwrite").partitionBy("p").parquet(path)
    report = storage.compact_table(spark, path, target_bytes=64 * 1024 * 1024)
    assert len(report) == 4  # one entry per leaf partition
    assert all(after <= before for before, after in report.values())
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(8000))


def test_range_sorted_write_prunes_row_groups(spark, tmp_path):
    path = str(tmp_path / "sorted")
    df = spark.range(0, 100000).select(F.col("id").alias("key"), (F.col("id") * 3).alias("v"))
    storage.write_range_sorted(df, path, ["key"], n_files=8)
    # disjoint spans: a narrow range must need ~1 of 8 row groups
    stats = storage.pruned_scan_stats(path, "key", 10, 20)
    assert stats["row_groups_total"] >= 8
    assert stats["row_groups_needed"] <= max(1, stats["row_groups_total"] // 8)
    # and the data survives, sorted within each file
    assert spark.read.parquet(path).count() == 100000
    # Spark's own scan sees the predicate at the parquet reader
    plan = (
        spark.read.parquet(path)
        .filter((F.col("key") >= 10) & (F.col("key") <= 20))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(key,10)" in plan


def test_zorder_write_prunes_on_every_dimension(spark, tmp_path):
    """Z-order layout: a narrow range on EITHER interleaved column prunes
    row groups — which a single-column range sort can only deliver for
    its own sort key (control asserted below) and an unsorted layout for
    neither. Content survives the rewrite exactly."""
    # two independent dimensions: a and b permuted against each other
    df = spark.range(0, 100000).select(
        F.col("id").alias("a"),
        ((F.col("id") * 48271) % 100000).alias("b"),
    )
    zpath = str(tmp_path / "zorder")
    storage.write_zorder_sorted(df, zpath, ["a", "b"], n_files=16)
    spath = str(tmp_path / "asorted")
    storage.write_range_sorted(df, spath, ["a"], n_files=16)
    for col in ("a", "b"):
        stats = storage.pruned_scan_stats(zpath, col, 0, 5000)  # bottom 5%
        assert stats["row_groups_total"] >= 16
        # both dimensions must skip most of the table
        assert stats["row_groups_needed"] <= stats["row_groups_total"] // 2, (
            col,
            stats,
        )
    # control: the a-sorted layout prunes a but cannot prune b
    sa = storage.pruned_scan_stats(spath, "a", 0, 5000)
    assert sa["row_groups_needed"] <= max(1, sa["row_groups_total"] // 8)
    sb = storage.pruned_scan_stats(spath, "b", 0, 5000)
    assert sb["row_groups_needed"] == sb["row_groups_total"]
    # exact content preservation
    got = sorted(
        (r["a"], r["b"]) for r in spark.read.parquet(zpath).collect()
    )
    want = sorted((r["a"], r["b"]) for r in df.collect())
    assert got == want


def test_zorder_four_columns_stays_in_long_range_and_prunes(spark, tmp_path):
    """4+ interleaved columns: bits-per-dimension scales down (63 // n) so
    the top bit never lands in the long's sign bit and no shift wraps —
    all four dimensions still prune, content exact."""
    df = spark.range(0, 200000).select(
        F.col("id").alias("a"),
        ((F.col("id") * 48271) % 200000).alias("b"),
        ((F.col("id") * 16807) % 200000).alias("c"),
        ((F.col("id") * 69621) % 200000).alias("d"),
    )
    zpath = str(tmp_path / "z4")
    storage.write_zorder_sorted(df, zpath, ["a", "b", "c", "d"], n_files=64)
    assert storage._zorder_bits_per_dim(4) == 15  # < 16: sign-bit guard
    for col in ("a", "b", "c", "d"):
        stats = storage.pruned_scan_stats(zpath, col, 0, 10000)  # bottom 5%
        # 64 row groups in 4-D Morton = ~1.5 curve splits per dimension:
        # measured 22-34 of 64 needed; the guard is that every dimension
        # prunes MEANINGFULLY (a broken interleave reads all 64)
        assert (
            stats["row_groups_needed"] <= stats["row_groups_total"] * 5 // 8
        ), (col, stats)
    got = sorted(
        (r["a"], r["b"], r["c"], r["d"])
        for r in spark.read.parquet(zpath).collect()
    )
    want = sorted((r["a"], r["b"], r["c"], r["d"]) for r in df.collect())
    assert got == want


def test_zorder_string_key_prunes_from_footers(spark, tmp_path):
    """String z-order keys (r8): the order-preserving 6-char base-256
    surrogate clusters the curve by prefix, so a string range predicate
    prunes row groups from the string column's OWN footer min/max —
    and the numeric co-dimension still prunes too."""
    df = spark.range(0, 100000).select(
        F.format_string("user%06d", (F.col("id") * 48271) % 100000).alias("u"),
        F.col("id").alias("v"),
    )
    zpath = str(tmp_path / "zstr")
    storage.write_zorder_sorted(df, zpath, ["u", "v"], n_files=32)
    su = storage.pruned_scan_stats(zpath, "u", "user000000", "user005000")
    assert su["row_groups_total"] >= 32
    assert su["row_groups_needed"] <= su["row_groups_total"] // 2, su
    sv = storage.pruned_scan_stats(zpath, "v", 0, 5000)
    assert sv["row_groups_needed"] <= sv["row_groups_total"] // 2, sv
    got = sorted((r["u"], r["v"]) for r in spark.read.parquet(zpath).collect())
    want = sorted((r["u"], r["v"]) for r in df.collect())
    assert got == want


def test_zorder_empty_frame_writes_empty_parquet(spark, tmp_path):
    """Empty input: min/max bounds are NULL — write the empty frame
    instead of crashing on float(None) (ADVICE r7)."""
    df = spark.range(0).select(F.col("id").alias("a"), F.col("id").alias("b"))
    zpath = str(tmp_path / "zempty")
    storage.write_zorder_sorted(df, zpath, ["a", "b"], n_files=4)
    out = spark.read.parquet(zpath)
    assert out.count() == 0 and set(out.columns) == {"a", "b"}


def test_zorder_all_null_later_column_degrades_gracefully(spark, tmp_path):
    """ADVICE r8 #3: a NON-empty frame whose SECOND z-order column is
    entirely NULL used to hit float(None) -> TypeError (the old guard
    only inspected the first column's min). Now the NULL column is a
    degenerate dimension: the other column still ranks and prunes,
    content survives exactly."""
    df = spark.range(0, 50000).select(
        F.col("id").alias("a"), F.lit(None).cast("long").alias("b")
    )
    zpath = str(tmp_path / "znullb")
    storage.write_zorder_sorted(df, zpath, ["a", "b"], n_files=8)
    sa = storage.pruned_scan_stats(zpath, "a", 0, 2500)  # bottom 5%
    assert sa["row_groups_needed"] <= max(1, sa["row_groups_total"] // 4), sa
    assert spark.read.parquet(zpath).count() == 50000


def test_zorder_all_null_first_column_still_ranks_the_rest(spark, tmp_path):
    """Dual of the above: an entirely-NULL FIRST column used to silently
    skip z-ordering for ALL columns (the empty-input fast path fired on a
    non-empty frame). Now only the NULL dimension degenerates."""
    df = spark.range(0, 50000).select(
        F.lit(None).cast("long").alias("a"), F.col("id").alias("b")
    )
    zpath = str(tmp_path / "znulla")
    storage.write_zorder_sorted(df, zpath, ["a", "b"], n_files=8)
    sb = storage.pruned_scan_stats(zpath, "b", 0, 2500)
    assert sb["row_groups_needed"] <= max(1, sb["row_groups_total"] // 4), sb
    assert spark.read.parquet(zpath).count() == 50000


def test_zorder_mixed_numeric_string_four_columns_prune(spark, tmp_path):
    """VERDICT r8 #8: the mixed-type footer proof — a 4-column interleave
    of 2 numeric + 2 string keys prunes row groups on EVERY dimension
    from the parquet footers alone (per-family proofs existed; this pins
    the combination, where string surrogates and numeric ranks share the
    63//4-bit budget)."""
    df = spark.range(0, 200000).select(
        F.col("id").alias("a"),
        ((F.col("id") * 48271) % 200000).alias("b"),
        F.format_string("usr%06d", (F.col("id") * 16807) % 200000).alias("u"),
        F.format_string("dom%06d", (F.col("id") * 69621) % 200000).alias("v"),
    )
    zpath = str(tmp_path / "zmix4")
    storage.write_zorder_sorted(df, zpath, ["a", "u", "b", "v"], n_files=64)
    probes = [
        ("a", 0, 10000),
        ("b", 0, 10000),
        ("u", "usr000000", "usr010000"),
        ("v", "dom000000", "dom010000"),
    ]
    for col, lo, hi in probes:  # bottom 5% on each dimension
        stats = storage.pruned_scan_stats(zpath, col, lo, hi)
        assert (
            stats["row_groups_needed"] <= stats["row_groups_total"] * 5 // 8
        ), (col, stats)
    got = sorted(
        (r["a"], r["b"], r["u"], r["v"])
        for r in spark.read.parquet(zpath).collect()
    )
    want = sorted((r["a"], r["b"], r["u"], r["v"]) for r in df.collect())
    assert got == want


def test_unsorted_write_does_not_prune(spark, tmp_path):
    """Control: hash-shuffled layout leaves every row group overlapping
    the probe range — data skipping is a property of the LAYOUT."""
    path = str(tmp_path / "unsorted")
    df = spark.range(0, 100000).select(F.col("id").alias("key"))
    df.repartition(8).write.mode("overwrite").parquet(path)
    stats = storage.pruned_scan_stats(path, "key", 10, 20)
    assert stats["row_groups_needed"] == stats["row_groups_total"]


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """The materialized IVF layout must make a probe an I/O fact: only the
    query's cell directory is read, and the pruned probe returns exactly
    what the inline (full-scan) trained-IVF query returns."""
    import os

    from distribution_engine_smt_spark.operators.storage import (
        build_ivf_index,
        probe_ivf_index,
    )
    from distribution_engine_smt_spark.pipeline.clustering import (
        ann_ivf_kmeans_topk,
    )
    from distribution_engine_smt_spark.tables import load_tpch

    from .conftest import SF_DIR

    idx = str(tmp_path / "ivf")
    cents = build_ivf_index(spark, SF_DIR, idx)
    # every cell materialized as its own partition directory
    cells = sorted(d for d in os.listdir(idx) if d.startswith("cid="))
    assert len(cells) == len(cents)

    q_vec = [
        float(x)
        for x in load_tpch(spark, SF_DIR)["embeddings"]
        .where("vec_id = 0")
        .first()["embedding"]
    ]
    # top=11: the probe's list includes the query vector itself (cos 1.0),
    # which the inline query excludes — one extra row keeps 10 comparable
    probe = probe_ivf_index(spark, idx, cents, q_vec, top=11)
    # the cell filter must reach the scan as a PARTITION filter (directory
    # pruning), not a post-scan data filter — that is the 1/k I/O claim.
    # (inputFiles() lists the relation pre-pruning, so inspect the plan.)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "cid" in pf[1].split("]", 1)[0]

    got = [(r["vec_id"], r["cos"]) for r in probe.collect() if r["vec_id"] != 0]
    want = [
        (r["vec_id"], r["cos"]) for r in ann_ivf_kmeans_topk(spark, SF_DIR).collect()
    ]
    # the probe includes the query vector itself (cos 1.0) which the query
    # version excludes; after dropping it the rankings must agree exactly
    assert got[: len(want)] == want


def test_kmeans_fit_centroids_are_the_assignment_quantizer(spark):
    """Self-consistency invariant behind the IVF router: routing EVERY
    indexed vector with the returned centroids must reproduce its stored
    cell. (A post-final-update centroid return breaks this for vectors
    near moved boundaries — regression guard for that bug.)"""
    from distribution_engine_smt_spark.pipeline.clustering import (
        _argmin_case,
        _dist_to_literal,
        kmeans_fit,
    )
    from distribution_engine_smt_spark.tables import load_tpch

    from .conftest import SF_DIR
    from pyspark.sql import functions as F

    asg, cents = kmeans_fit(spark, SF_DIR)
    emb = load_tpch(spark, SF_DIR)["embeddings"]
    d = [_dist_to_literal("embedding", c) for c in cents]
    routed = emb.select("vec_id", _argmin_case(d).alias("routed_cid"))
    mismatch = (
        routed.join(asg, "vec_id")
        .where(F.col("routed_cid") != F.col("cid"))
        .count()
    )
    assert mismatch == 0


def test_update_ivf_index_incremental_and_idempotent(spark, tmp_path):
    """Incremental inserts route through the STORED quantizer (router and
    cells agree: a copy of the query vector becomes probe-visible in the
    query's own cell) and a replayed batch overwrites itself instead of
    appending duplicates."""
    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.operators.storage import (
        build_ivf_index,
        probe_ivf_index,
        update_ivf_index,
    )
    from distribution_engine_smt_spark.tables import load_tpch

    from .conftest import SF_DIR

    idx = str(tmp_path / "ivf_u")
    cents = build_ivf_index(spark, SF_DIR, idx)
    emb = load_tpch(spark, SF_DIR)["embeddings"]
    base_count = spark.read.parquet(idx).count()

    q_vec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    clone = emb.where("vec_id = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    update_ivf_index(spark, idx, cents, clone, "b1")
    assert spark.read.parquet(idx).count() == base_count + 1

    # the clone must be probe-visible: it sits in the query's own cell
    # (router == stored assignment) and scores cos = 1 against the query
    rows = probe_ivf_index(spark, idx, cents, q_vec, top=3).collect()
    by_id = {r["vec_id"]: r["cos"] for r in rows}
    assert 100000 in by_id and abs(by_id[100000] - 1.0) < 1e-12

    # replaying the SAME batch_id is a no-op on counts (dynamic overwrite)
    update_ivf_index(spark, idx, cents, clone, "b1")
    assert spark.read.parquet(idx).count() == base_count + 1


def test_compact_ivf_cell_folds_batch_dirs(spark, tmp_path):
    """Cross-batch cell compaction: many per-batch leaves become one,
    rows and probe results unchanged."""
    import os

    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.operators.storage import (
        build_ivf_index,
        compact_ivf_cell,
        probe_ivf_index,
        update_ivf_index,
    )
    from distribution_engine_smt_spark.tables import load_tpch

    from .conftest import SF_DIR

    idx = str(tmp_path / "ivf_c")
    cents = build_ivf_index(spark, SF_DIR, idx)
    emb = load_tpch(spark, SF_DIR)["embeddings"]
    q_vec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    for i, off in enumerate((100000, 100001, 100002)):
        clone = emb.where("vec_id = 0").select(
            (F.col("vec_id") + off).alias("vec_id"), "embedding"
        )
        update_ivf_index(spark, idx, cents, clone, f"b{i}")

    # the query's cell now holds base + 3 batch leaves
    cells = [d for d in os.listdir(idx) if d.startswith("cid=")]
    target = None
    for c in cells:
        leaves = os.listdir(os.path.join(idx, c))
        if len([d for d in leaves if d.startswith("batch_id=")]) >= 4:
            target = int(c.split("=")[1])
    assert target is not None
    before = spark.read.parquet(idx).count()

    compact_ivf_cell(spark, idx, target)
    leaves = [
        d
        for d in os.listdir(os.path.join(idx, f"cid={target}"))
        if d.startswith("batch_id=")
    ]
    assert len(leaves) == 1  # folded into one consolidated batch
    assert spark.read.parquet(idx).count() == before  # data identical
    got = {r["vec_id"] for r in probe_ivf_index(spark, idx, cents, q_vec, top=5).collect()}
    assert {100000, 100001, 100002} & got  # clones still probe-visible


def test_zorder_string_surrogate_is_order_preserving_for_ascii(spark):
    """The 6-char base-256 surrogate must rank ASCII strings in exact
    lexicographic order (that's what makes string-range footer pruning
    sound) and collapse strings sharing a 6-char prefix to one rank."""
    vals = [
        "", "a", "aa", "aaaaaa", "aaaaaaZZZ", "aaaaaab", "abc", "b",
        "user000001", "user000002", "zzzzzz",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", storage._zorder_str_surrogate(F.col("s")).alias("r")
    )
    got = {r["s"]: r["r"] for r in df.collect()}
    ranked = sorted(vals, key=lambda v: (got[v], v))
    assert ranked == sorted(vals), ranked  # surrogate order == lexicographic
    # prefix collapse: same first 6 chars -> same rank
    assert got["aaaaaa"] == got["aaaaaaZZZ"]
    # distinct within 6 chars -> distinct ranks
    assert got["user000001"] == got["user000002"]  # differ past char 6
    assert got["a"] != got["b"] and got["aa"] != got["a"]


# ---------------------------------------------------------------------------
# the declared Store contract: one implementation owns exists-check, tmp
# naming, writes, atomic publish, reads and read-or-derive for every store
# ---------------------------------------------------------------------------


@pytest.fixture()
def toy_store(tmp_path, monkeypatch):
    """A two-variant Store over a tiny live derivation, rooted in tmp."""
    root = tmp_path / "stores"
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(root))
    calls = []

    def derive(spark, sf_dir, n):
        calls.append(n)
        return spark.range(n).selectExpr(
            "id", "IF(id % 2 = 0, 'even', 'odd') AS variant"
        )

    store = storage.Store(
        "toy",
        derive,
        params=lambda n: (f"n{n}",),
        layout=storage.Layout(repartition=("variant",), partition_by=("variant",)),
        view=lambda df, **_: df.select("id"),
        part="variant",
    )
    return store, str(root), calls


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_store_read_or_derive_without_store_is_live(spark, toy_store):
    store, root, calls = toy_store
    assert store.read(spark, None, n=4) is None
    assert _ids(store.read_or_derive(spark, None, n=4)) == [0, 1, 2, 3]
    assert calls == [4]
    assert not os.path.exists(root), "read_or_derive must never write"


def test_store_build_publishes_once(spark, toy_store):
    store, root, calls = toy_store
    path = store.build(spark, None, n=4)
    assert path == os.path.join(root, "toy-v1-n4") and os.path.isdir(path)
    stamp = os.path.getmtime(path)
    assert store.build(spark, None, n=4) == path
    assert calls == [4], "second build re-ran the derivation"
    assert os.path.getmtime(path) == stamp
    assert os.listdir(root) == ["toy-v1-n4"], "stranded tmp build dirs"
    # with the store present, read_or_derive reads it
    assert _ids(store.read_or_derive(spark, None, n=4)) == [0, 1, 2, 3]
    assert calls == [4]


def test_store_lost_publish_race_discards_tmp(spark, toy_store):
    store, root, _ = toy_store
    path = store.path(n=3)

    def produce():
        # a concurrent builder publishes while this one is deriving
        os.makedirs(path)
        with open(os.path.join(path, "winner"), "w") as f:
            f.write("winner")
        return spark.range(3).selectExpr("id", "'even' AS variant")

    assert store.publish(path, produce) == path
    assert os.listdir(path) == ["winner"]
    assert not [d for d in os.listdir(root) if ".build-" in d]


def test_store_missing_variant_reads_none_not_empty(spark, toy_store):
    import shutil

    store, _, _ = toy_store
    path = store.build(spark, None, n=4)
    assert _ids(store.read(spark, None, part="even", n=4)) == [0, 2]
    assert store.read(spark, None, part="absent", n=4) is None
    shutil.rmtree(os.path.join(path, "variant=odd"))
    assert store.read(spark, None, part="odd", n=4) is None


def test_store_directory_names_are_pinned(monkeypatch):
    """Every declared store's directory name for a fixed fingerprint.
    Stores already built under earlier releases keep being found only
    while these names stay byte-identical."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", "/stores")
    monkeypatch.setattr(storage, "_sf_fingerprint", lambda sf_dir, tables: "f" * 12)
    s = storage
    pinned = {
        s.PAIRS.path("sf"): "pairs-v1-wauto-j0.5-ffffffffffff",
        s.SIGNATURES.path("sf", n_hashes=8): "minhash-sig-v1-h8-ffffffffffff",
        s.POSTINGS.path("sf"): "shingle-postings-v1-ffffffffffff",
        s.CLUSTERS.path("sf"): "pairs-v1-wauto-j0.5-ffffffffffff-clusters",
        s.KMEANS.path("sf", k=4, iters=2): "kmeans-v1-k4i2-ffffffffffff",
        s.SHARDED_IVF.path("sf"): "sharded-ivf-v1-ffffffffffff",
        s.ADAPTIVE_IVF.path("sf", k1=4): "adaptive-ivf-v1-k4-h125-ffffffffffff",
        s.ADAPTIVE_IVFPQ_CODES.path(
            "sf", k1=4
        ): "adaptive-ivfpq-codes-v1-k4-h125-s8k8-ffffffffffff",
        s.PQ_CODES.path("sf"): "pq-codes-v1-s8k8-ffffffffffff",
        s.PQ_CODEBOOK.path("sf"): "pq-codebook-v1-s8k8i2-ffffffffffff",
        s.IVFPQ_CODES.path("sf", k=4): "ivfpq-codes-v1-k4s8k8-ffffffffffff",
        s.RHP_BANDS.path("sf", bits=4): "rhp-bands-v1-L8k4-ffffffffffff",
        s.EMBEDDING_PAIRS.path("sf"): "emb-pairs-v1p-ffffffffffff",
        s.NGRAM_PAIRS.path("sf"): "ngram-pairs-v1-t50-cap100-ffffffffffff",
        s.CMASS_SEM_PAIRS.path(): "cmass-sem-pairs-v1-n2048-c8-t90",
        s.CMASS_SEM_PAIRS.path(
            n=16384, probe=128
        ): "cmass-sem-pairs-v1-n16384-c8-t90-p128",
        s.CMASS_FIT.path(): "cmass-fit-v1l2-n2048-c8-h125",
        s.CMASS_FIT.path(n=16384): "cmass-fit-v1l2-n16384-c8-h125",
        s.CF_FIT.path(): "cf-fit-v1l3-n2048-c8",
    }
    for path, name in pinned.items():
        assert path == os.path.join("/stores", name)
