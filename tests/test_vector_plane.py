"""The dataops vector plane contract: one validity predicate applied once
per ANN/dedup entry, one numpy fold checked bit for bit against the JVM
`_cosine` reference, and no invalid row (wrong dim, null list, null
element) ever reaching a Python kernel."""

import math
import warnings

import numpy as np
from pyspark.sql import functions as F

from text_extraction_spark import dataops

DIM = 16


def _vec(rng, dim=DIM):
    return [float(x) for x in rng.standard_normal(dim)]


def _with_null_element(v, at=3):
    v = list(v)
    v[at] = None
    return v


def _stores():
    """name → rows; one store per row kind the vector plane meets."""
    rng = np.random.default_rng(11)
    dense = [(i, _vec(rng)) for i in range(12)]
    return {
        "dense": dense,
        "ragged": dense + [(20, _vec(rng, 8)), (21, _vec(rng, 24))],
        "null_list": dense + [(20, None)],
        "null_element": dense + [(20, _with_null_element(dense[1][1]))],
        "nan": dense + [(20, [math.nan] + _vec(rng, DIM - 1))],
        "zero_vector": dense + [(20, [0.0] * DIM)],
        "exact_duplicate": dense + [(20, list(dense[1][1])), (21, list(dense[1][1]))],
    }


def _table(rows, elem=None):
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(elem or pa.float64())),
        }
    )


def _df(spark, rows):
    # an Arrow table plans as a JVM-side LocalTableScan; a Python row
    # list re-runs a Python task on every job over the store
    return spark.createDataFrame(_table(rows))


def _same(a, b):
    """Bit-equal doubles, NaN equal to NaN (Spark's NaN semantics)."""
    return a == b or (a is not None and b is not None and math.isnan(a) and math.isnan(b))


def test_embedding_validator_rejects_exactly_the_jvm_null_fold(spark):
    """The rejected set is exactly the rows whose JVM fold against a
    canonical-dim partner is null: wrong dim, null list, null element,
    empty list. NaN, zero and duplicate vectors stay valid."""
    rng = np.random.default_rng(5)
    rows = [(i, _vec(rng)) for i in range(10)]
    rows += [
        (10, [math.nan] + _vec(rng, DIM - 1)),
        (11, [0.0] * DIM),
        (12, list(rows[1][1])),
        (20, _with_null_element(_vec(rng))),
        (21, _vec(rng, 8)),
        (22, None),
        (23, []),
    ]
    df = _df(spark, rows)
    assert dataops.emb_stats(df) == (len(rows), DIM, 4)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        valid, stats = dataops._valid_store(df, what="test")
    assert stats == (len(rows), DIM, 4)
    assert any("4 rows dropped" in str(x.message) for x in w)
    valid_ids = {r.vec_id for r in valid.collect()}
    assert valid_ids == set(range(13))
    ref = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("ref"))
    null_fold = {
        r.vec_id
        for r in df.crossJoin(ref)
        .filter(dataops._jvm_dot(F.col("embedding"), F.col("ref")).isNull())
        .collect()
    }
    assert null_fold == {20, 21, 22, 23}
    assert null_fold == {r[0] for r in rows} - valid_ids

    # moved from test_embedding_dim_derived_and_drops_surfaced: the dim
    # is derived from the data and the two stray 16-d rows are counted
    rng = np.random.default_rng(3)
    rows48 = [(i, rng.standard_normal(48).tolist()) for i in range(40)]
    rows48 += [(100, rng.standard_normal(16).tolist()), (101, rng.standard_normal(16).tolist())]
    assert dataops.emb_stats(_df(spark, rows48)) == (42, 48, 2)

    # moved from test_hyperplane_buckets_deterministic_and_shaped: a
    # wrong-dim row in a 64-d store is rejected before any kernel
    e64 = [(0, np.arange(64, dtype=float).tolist()), (1, (np.ones(64) * -1).tolist())]
    df64 = _df(spark, e64 + [(2, [1.0, 2.0])])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        valid64, stats64 = dataops._valid_store(df64)
    assert stats64 == (3, 64, 1)
    assert {r.vec_id for r in valid64.collect()} == {0, 1}


def _jvm_reference(pairs):
    """(ua, ub) → JVM `_cosine(ea, eb)`. A pair with a zero vector is
    NaN: the JVM division raises under ANSI there, and the numpy fold
    keeps the 0/0 = NaN the kernels have always ranked by — so its dot
    and norms are checked against the JVM fold parts instead."""
    zero = (dataops._jvm_norm("ea") == 0) | (dataops._jvm_norm("eb") == 0)
    rows = pairs.select(
        "ua",
        "ub",
        F.when(zero, F.lit(math.nan)).otherwise(dataops._cosine("ea", "eb")).alias("c"),
        dataops._jvm_dot("ea", "eb").alias("dot"),
        dataops._jvm_norm("ea").alias("na"),
    ).collect()
    return {(r.ua, r.ub): r.c for r in rows}, {(r.ua, r.ub): (r.dot, r.na) for r in rows}


def test_numpy_fold_matches_jvm_cosine_bit_for_bit(spark):
    """Differential check of the one numpy fold against the JVM
    `_cosine` reference on every store kind: every valid pair's cosine is
    bit-identical through _pair_cosine_arrow (row-aligned dots),
    _fold_grid (the grid kernels) and the d06 bucket scorer, and the
    fold parts (_fold_dots, _fold_norms) equal _jvm_dot and _jvm_norm."""
    for name, rows in _stores().items():
        df = _df(spark, rows)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            valid, _ = dataops._valid_store(df)
        a = valid.select(F.col("vec_id").alias("ua"), F.col("embedding").alias("ea"))
        b = valid.select(F.col("vec_id").alias("ub"), F.col("embedding").alias("eb"))
        pairs = a.crossJoin(b)
        jvm, parts = _jvm_reference(pairs)
        assert jvm and all(v is not None for v in jvm.values()), name
        arrow = {
            (r.ua, r.ub): r.cosine
            for r in dataops._pair_cosine_arrow(pairs, "ua", "ub", "ea", "eb").collect()
        }
        assert arrow.keys() == jvm.keys(), name
        assert all(_same(arrow[k], jvm[k]) for k in jvm), name

        ids, X = dataops._collect_id_emb(valid)
        n = dataops._fold_norms(X)
        grid = dataops._fold_grid(X, X, n, n)
        for i, ua in enumerate(ids):
            dots = dataops._fold_dots(np.repeat(X[i : i + 1], len(X), axis=0).T, X.T)
            for j, ub in enumerate(ids):
                assert _same(float(grid[i, j]), jvm[(ua, ub)]), (name, ua, ub)
                assert _same(float(dots[j]), parts[(ua, ub)][0]), (name, ua, ub)
                assert _same(float(n[i]), parts[(ua, ub)][1]), (name, ua, ub)

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            scored = dataops._hyperplane_scored_pairs(df).collect()
        assert scored, name
        for r in scored:
            assert _same(r.cosine, jvm[(r.ua, r.ub)]), (name, r.ua, r.ub)


def _near_dup_store(rng):
    base = rng.standard_normal(DIM)
    rows = [(i, [float(x) for x in base + 0.01 * rng.standard_normal(DIM)]) for i in range(6)]
    rows += [(i, _vec(rng)) for i in range(6, 30)]
    return base, rows


def test_null_element_vector_joins_no_component(spark):
    """A null element used to become NaN in the numpy fold, and Spark's
    `NaN >= threshold` is true, so the vector merged unrelated
    components. It must now be rejected before the bucket stage."""
    rng = np.random.default_rng(3)
    base, rows = _near_dup_store(rng)
    rows.append((100, _with_null_element([float(x) for x in base])))
    df = _df(spark, rows)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = dataops.embedding_dedup_pipeline(df, 0.9).collect()
    assert all(r.vec_id != 100 and r.component != 100 for r in out)
    comps: dict = {}
    for r in out:
        comps.setdefault(r.component, set()).add(r.vec_id)
    assert comps == {0: set(range(6))}


def test_ann_entries_never_score_invalid_rows(spark):
    """d06/d15 cores: invalid rows are counted, warned about, and absent
    from the neighbor lists (a null-element vector used to rank first
    for every query with a NaN cosine)."""
    rng = np.random.default_rng(3)
    base, rows = _near_dup_store(rng)
    rows += [
        (100, _with_null_element([float(x) for x in base])),
        (101, _vec(rng, 8)),
        (102, None),
    ]
    df = _df(spark, rows)
    C = dataops._spherical_kmeans(np.array([r[1] for r in rows[:30]]), k=4)
    for run in (lambda: dataops.hyperplane_ann(df), lambda: dataops.ivf_topk(df, C)):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = run().collect()
        assert any("3 rows dropped" in str(x.message) for x in w)
        assert out and all(r.q_id < 100 and r.vec_id < 100 for r in out)
        assert all(r.cosine is not None for r in out)


def test_centroid_assign_masks_invalid_rows(spark):
    """d40 emits every row: wrong-dim, null-list and null-element rows
    get (cluster_id 0, cosine NULL), as the JVM fold gave them; valid
    rows match the d40 SQL rule (round-4 cosine desc, then cid) over the
    JVM reference cosine."""
    rng = np.random.default_rng(3)
    _, rows = _near_dup_store(rng)
    rows += [
        (100, _with_null_element(_vec(rng))),
        (101, _vec(rng, 8)),
        (102, None),
    ]
    df = _df(spark, rows)
    got = {r.vec_id: (r.cluster_id, r.cosine) for r in dataops._centroid_assign(df).collect()}
    assert len(got) == len(rows)
    assert got[100] == got[101] == got[102] == (0, None)
    cents = df.filter(F.col("vec_id") < dataops._D40_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    sims = df.filter(F.col("vec_id") < 100).crossJoin(cents).select(
        "vec_id", "cid", F.round(dataops._cosine(F.col("embedding"), F.col("ce")), 4).alias("c")
    )
    best: dict = {}
    for r in sims.collect():
        key = (-r.c, r.cid)
        if r.vec_id not in best or key < best[r.vec_id][0]:
            best[r.vec_id] = (key, (r.cid, r.c))
    for vid, (_, want) in best.items():
        assert got[vid] == want, vid

    # an invalid centroid scores NULL against every row: a wrong-dim
    # centroid no longer claims the rows of its own dim (the deleted
    # interpreted-fold branch scored them), and none of the valid rows
    wrong = [r if r[0] != 7 else (7, _vec(rng, 8)) for r in rows]
    got = {r.vec_id: (r.cluster_id, r.cosine) for r in dataops._centroid_assign(_df(spark, wrong)).collect()}
    assert got[101] == got[7] == (0, None)
    assert all(cid != 7 and c is not None for v, (cid, c) in got.items() if v < 100 and v != 7)


def test_semantic_dedup_ignores_invalid_rows(spark, tmp_path):
    """d42: an invalid row keeps its (cluster 0, kept) output and takes
    no part in the pair stage (ADVICE #2: mixed-dim pairs), so the valid rows' answer equals the
    answer on the store without the invalid rows. 64-d rows keep most
    within-cluster cosines under tau, so kept and dropped rows both
    occur in cluster 0, the cluster the invalid rows land in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    rows = [(i, _vec(rng, 64)) for i in range(40) if i != 8]
    # 41 and 43 share an 8-d vector: the deleted per-dim grouping paired
    # them (cosine 1.0) and dropped 43
    v8 = _vec(rng, 8)
    bad = [(8, _with_null_element(_vec(rng, 64))), (41, v8), (42, None), (43, list(v8))]

    def run(store, sub):
        d = tmp_path / sub
        d.mkdir()
        pq.write_table(_table(store, pa.float32()), str(d / "embeddings.parquet"))
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return {
                r.vec_id: (r.cluster_id, r.kept)
                for r in dataops.QUERIES["d42_semantic_dedup"](spark, str(d)).collect()
            }

    clean = run(rows, "clean")
    mixed = run(rows + bad, "mixed")
    assert {kept for cid, kept in clean.values() if cid == 0} == {True, False}
    assert {k: v for k, v in mixed.items() if k not in (8, 41, 42, 43)} == clean
    assert mixed[8] == mixed[41] == mixed[42] == mixed[43] == (0, True)
