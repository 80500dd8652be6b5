"""The extension sequence every persisted store shares
(``retrieval._extend_store``): each kind's public ``extend_*`` refuses a
batch id a committed delete already used, a delivery carrying a
tombstoned id, and a wrong-typed id column, and none of the refusals
commits anything."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup_store as DS
from chat_data_pipeline_spark.operators import neardup_store as NS
from chat_data_pipeline_spark.operators import retrieval as RT
from chat_data_pipeline_spark.operators import similarity as SIM
from tests.test_maintenance import SF_DIR

# kind -> (input table, id column, build, extend, delete)
KINDS = {
    "bm25": (
        "documents", "doc_id", RT.build_text_index, RT.extend_text_index,
        RT.delete_from_text_index,
    ),
    "dedup": (
        "documents", "doc_id",
        lambda df, p: DS.build_dedup_index(df, p, family="md5"),
        DS.extend_dedup_index, DS.delete_from_dedup_index,
    ),
    "ivf": (
        "embeddings", "vec_id",
        lambda df, p: SIM.build_ivf_index(df, p, n_centroids=16, coarse="md5", dim=64),
        SIM.extend_ivf_index, SIM.delete_from_ivf_index,
    ),
    "ivfpq": (
        "embeddings", "vec_id",
        lambda df, p: SIM.build_ivfpq_index(
            df, p, n_centroids=16, m=8, n_codewords=16, dim=64
        ),
        SIM.extend_ivfpq_index, SIM.delete_from_ivf_index,
    ),
    "neardup": (
        "embeddings", "vec_id", NS.build_neardup_index, NS.extend_neardup_index,
        NS.delete_from_neardup_index,
    ),
}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_extension_refusals_every_kind(spark, tmp_path, kind):
    table, id_col, build, extend, delete = KINDS[kind]
    cols = ["doc_id", "text"] if table == "documents" else ["vec_id", "embedding"]
    df = (
        spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    idx = str(tmp_path / kind)
    build(df.filter(F.col(id_col) % 2 == 0), idx)
    delete(spark, idx, df.filter(F.col(id_col) % 10 == 0).select(id_col), "d1")
    committed = RT._committed_batches(spark, idx)
    assert committed == ["base", "d1"]

    fresh = df.filter(F.col(id_col) % 2 == 1)
    with pytest.raises(ValueError, match="distinct id"):
        extend(fresh, idx, batch_id="d1")
    with pytest.raises(ValueError, match="tombstoned"):
        extend(df.filter(F.col(id_col) % 5 == 0), idx, batch_id="x1")
    with pytest.raises(ValueError, match="id type"):
        extend(fresh.withColumn(id_col, F.col(id_col).cast("string")), idx, batch_id="x2")
    assert RT._committed_batches(spark, idx) == committed
