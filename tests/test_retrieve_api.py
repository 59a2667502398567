"""``api.retrieve`` against a brute-force cosine top-k, its job budget,
and the schema memo of ``sources.tables.read_parquet``."""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from usda_food_data_pipeline_spark import api
from usda_food_data_pipeline_spark.functions.embed import embed_one
from usda_food_data_pipeline_spark.operators.similarity import cosine_topk
from usda_food_data_pipeline_spark.sources.tables import load_table, read_parquet

QUERIES = ["key agg row scan slow fast table", "spark join", "dup dup shuffle"]


@pytest.fixture(scope="module")
def doc_index(spark, sf_dir, tmp_path_factory):
    """An ``array<double>`` index written by ``api.build_index``."""
    path = str(tmp_path_factory.mktemp("retrieve") / "doc_index")
    docs = load_table(spark, sf_dir, "documents")
    api.build_index(spark, docs, "text", "doc_id", path, dim=32)
    return path


@pytest.fixture(scope="module")
def float_index(tmp_path_factory):
    """A hand-written ``array<float>`` index: random vectors, each stored
    under up to three ids (score ties, so a top-k cut falls inside one),
    and a zero vector."""
    rng = np.random.default_rng(5)
    vecs = np.tile(rng.standard_normal((67, 16)).astype(np.float32), (3, 1))[:200]
    vecs[150] = 0.0
    path = tmp_path_factory.mktemp("retrieve") / "float_index"
    path.mkdir()
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(200, dtype=np.int64)[::-1]),
            "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path / "part-0.parquet")
    return str(path)


def brute_force_topk(index_path: str, id_col: str, qvec: list[float], k: int) -> list:
    """numpy cosine top-k over the index file, (score desc, id asc); the
    dot products and norms fold left to right, as the engine's do."""
    table = pq.read_table(index_path)
    ids = table[id_col].to_pylist()
    vecs = np.array(table["embedding"].to_pylist(), dtype=np.float64)
    q = np.asarray(qvec, dtype=np.float64)
    dot, vv, qq = np.zeros(len(ids)), np.zeros(len(ids)), 0.0
    for j in range(vecs.shape[1]):
        dot = dot + vecs[:, j] * q[j]
        vv = vv + vecs[:, j] * vecs[:, j]
        qq = qq + q[j] * q[j]
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = dot / (np.sqrt(vv) * np.sqrt(qq))
    ranked = sorted(
        (i for i in range(len(ids)) if not np.isnan(scores[i])),
        key=lambda i: (-scores[i], ids[i]),
    )
    return [(ids[i], float(scores[i])) for i in ranked[:k]]


def check_against_brute_force(spark, index_path, id_col, dim, k, queries):
    for text in queries:
        hits = api.retrieve(spark, index_path, text, id_col=id_col, k=k, dim=dim)
        got = [(h[id_col], h["score"]) for h in hits]
        want = brute_force_topk(index_path, id_col, embed_one(text, dim), k)
        assert [i for i, _ in got] == [i for i, _ in want], text
        assert all(abs(g - w) <= 1e-12 for (_, g), (_, w) in zip(got, want)), text
        assert got == sorted(got, key=lambda p: (-p[1], p[0])), text
        # bit for bit what the one-row-frame operator gives
        qdf = spark.createDataFrame([(embed_one(text, dim),)], "embedding array<double>")
        ref = cosine_topk(spark.read.parquet(index_path), qdf, k=k, id_col=id_col)
        assert got == [(r[id_col], r["score"]) for r in ref.collect()], text


def test_retrieve_matches_brute_force_double_index(spark, doc_index):
    check_against_brute_force(spark, doc_index, "doc_id", 32, 10, QUERIES)


def test_retrieve_matches_brute_force_float_index(spark, float_index):
    # k = 25 is no multiple of 3, so the cut falls inside a group of
    # equal scores and ties must break by id; the zero vector (NULL
    # cosine) never surfaces
    check_against_brute_force(
        spark, float_index, "vec_id", 16, 25, QUERIES + ["salt", "a b c d e f g h"]
    )
    hits = api.retrieve(spark, float_index, "salt", id_col="vec_id", k=500, dim=16)
    assert len(hits) == 199 and 49 not in {h["vec_id"] for h in hits}


def count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"retrieve-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_retrieve_job_budget(spark, sf_dir, tmp_path):
    path = str(tmp_path / "index")
    docs = load_table(spark, sf_dir, "documents").limit(50)
    api.build_index(spark, docs, "text", "doc_id", path, dim=16)
    call = lambda q: lambda: api.retrieve(spark, path, q, k=5, dim=16)  # noqa: E731
    assert count_jobs(spark, call("spark join")) <= 2  # schema inference + top-k
    assert count_jobs(spark, call("spark join")) == 1
    assert count_jobs(spark, call("dup scan")) == 1
    assert count_jobs(spark, call("  \t ")) == 0
    assert count_jobs(spark, call(None)) == 0
    assert api.retrieve(spark, path, None, k=5, dim=16) == []


def test_read_parquet_reinfers_after_rewrite(spark, tmp_path):
    path = str(tmp_path / "index")
    schema = "doc_id {}, embedding array<double>"
    spark.createDataFrame([(1, [1.0, 0.0])], schema.format("bigint")).write.parquet(path)
    assert dict(read_parquet(spark, path).dtypes)["doc_id"] == "bigint"
    assert count_jobs(spark, lambda: read_parquet(spark, path)) == 0  # memoized
    rewrite = spark.createDataFrame([("a", [0.0, 1.0])], schema.format("string"))
    rewrite.write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert dict(df.dtypes)["doc_id"] == "string"
    assert [tuple(r) for r in df.collect()] == [("a", [0.0, 1.0])]
    hits = api.retrieve(spark, path, "salt", k=3, dim=2)
    assert [h["doc_id"] for h in hits] == ["a"]
