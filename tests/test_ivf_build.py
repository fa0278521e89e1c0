"""The trained IVF structure itself: ``ivf_kmeans`` assignments and
centroids match the DuckDB twin (``ivf_kmeans_sql_ctes``) bit for bit,
and an index build evaluates its input lineage exactly once.

``test_parity[ann_topk_ivf]`` compares only top-k query rows, so a
centroid drift that kept the same probed cells would pass it; these
tests pin the quantizer directly."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

import haensel_ams_data_engineer_challenge_spark.operators.similarity as S
from haensel_ams_data_engineer_challenge_spark.sources import load_table


def _spark_structure(assign, cents):
    return (
        sorted((int(r[0]), int(r[1])) for r in assign.collect()),
        # float.hex: bit-for-bit, including the sign of zero
        sorted((int(r[0]), [float(x).hex() for x in r[1]]) for r in cents.collect()),
    )


def _duck_structure(parquet, k, iters, sample_thresh=None):
    """The twin's (assignments, centroids) over the vectors in
    ``parquet``.  With ``sample_thresh`` the twin trains on the same md5
    hash sample ``ivf_kmeans(train_sample_cap=)`` draws and the final
    assignment covers every vector."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{parquet}/*.parquet')"
    )
    table = "embeddings"
    if sample_thresh is not None:
        con.execute(
            "CREATE VIEW train AS SELECT * FROM embeddings WHERE "
            "CAST(concat('0x', substr(md5('ivfs|' || CAST(vec_id AS VARCHAR)),"
            f" 1, 15)) AS BIGINT) % {S._IVF_SAMPLE_MOD} < {sample_thresh}"
        )
        table = "train"
    cos = S.cosine_sql("e.embedding", "c.cvec")
    ctes = S.ivf_kmeans_sql_ctes(k, iters, table=table)
    assign = con.execute(
        f"""WITH {ctes}
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell ASC) AS rn
            FROM embeddings e, km_cents c) t
        WHERE rn = 1"""
    ).fetchall()
    cents = con.execute(f"WITH {ctes} SELECT cell, cvec FROM km_cents").fetchall()
    con.close()
    return (
        sorted((int(a), int(c)) for a, c in assign),
        sorted((int(c), [float(x).hex() for x in v]) for c, v in cents),
    )


def _empty_cell_vectors(spark):
    """Seeds 0 and 1 point the same way (cosine ties -> lowest cell),
    so cell 1 gets no members in the first Lloyd round and must keep
    its seed centroid."""
    rng = random.Random(11)
    rows = [
        (0, [1.0] + [0.0] * (S.EMBEDDING_DIM - 1)),
        (1, [2.0] + [0.0] * (S.EMBEDDING_DIM - 1)),
    ]
    rows += [
        (i, [round(rng.uniform(-1.0, 1.0), 4) for _ in range(S.EMBEDDING_DIM)])
        for i in range(2, 60)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize(
    "case",
    ["embeddings", "hash_embed", "empty_cell", "train_sample_cap"],
)
def test_ivf_kmeans_structure_matches_duckdb_twin(spark, sf_dir, tmp_path, case):
    k, iters, cap = S.IVF_CELLS, S.IVF_ITERS, None
    if case == "hash_embed":
        vecs = S.hash_embed(load_table(spark, sf_dir, "documents"))
    elif case == "empty_cell":
        vecs, k, iters = _empty_cell_vectors(spark), 4, 1
    else:
        vecs = load_table(spark, sf_dir, "embeddings")
    parquet = str(tmp_path / "vectors.parquet")
    vecs.select("vec_id", "embedding").write.parquet(parquet)

    thresh = None
    if case == "train_sample_cap":
        cap = 300
        n = vecs.count()
        thresh = (S._IVF_SAMPLE_MOD * cap) // n
    got = _spark_structure(
        *S.ivf_kmeans(vecs, k, iters, train_sample_cap=cap)
    )
    want = _duck_structure(parquet, k, iters, thresh)
    assert got[1] == want[1]
    assert got[0] == want[0]
    assert len(got[0]) == len({a for a, _ in got[0]})  # one cell per vector

    if case == "empty_cell":
        # the round left cell 1 empty: it kept its seed centroid
        assert dict(got[1])[1] == [float(2.0).hex()] + [float(0.0).hex()] * (
            S.EMBEDDING_DIM - 1
        )


def test_ivf_build_evaluates_input_lineage_once(spark, sf_dir, tmp_path):
    """Seeds, Lloyd rounds, final assignment, the int8 vectors table
    and the retrain sizing count all read one materialized copy of the
    input: a counting UDF in the input lineage sees each row once per
    build, not once per consumer ((iters + 2) or more times)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    n = vecs.count()
    seen = spark.sparkContext.accumulator(0)

    def tap(v):
        seen.add(1)
        return v

    tapped = vecs.select(
        "vec_id",
        F.udf(tap, vecs.schema["embedding"].dataType)("embedding").alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "ivf_q")
    S.ivf_index_persistent(tapped, path, k=5, iters=2)
    assert seen.value == n

    S.ivf_index_retrain(tapped, path)
    assert seen.value == 2 * n

    assign, cents = S.ivf_kmeans(tapped, k=5, iters=2)
    assign.count()
    cents.count()
    assert seen.value == 3 * n
