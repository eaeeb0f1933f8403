"""``curation_pipeline`` (registry.py) against its DuckDB oracle on
documents that include NULL ``doc_id`` rows: the oracle's stratum OR
keeps a NULL-id 'hi' document and drops the 'mid' and 'lo' ones, and
the Spark keep predicate must agree."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import registry
from conftest import SF_ORACLE


def _norm(row):
    return tuple(round(v, 9) if isinstance(v, float) and not math.isnan(v) else v for v in row)


def _sorted(rows):
    return sorted((_norm(r) for r in rows), key=lambda r: tuple((v is None, str(v)) for v in r))


# one text per stratum; each is added twice, with a NULL doc_id and
# with an id every stratum keeps (residue 0), which shows its stratum
TEXTS = {
    "hi": "the cat and the dog went to the park in the morning of a day and ran to the lake",
    "mid": "zebra quantum xylophone",
    "lo": "x",
}


def test_null_doc_id_rows_match_the_oracle(spark, tmp_path):
    docs = pq.read_table(f"{SF_ORACLE}/documents.parquet")
    keep_all = [10_000_000 + 10 * i for i in range(len(TEXTS))]
    texts = list(TEXTS.values()) * 2
    extra = pa.table(
        {
            "doc_id": pa.array([None] * len(TEXTS) + keep_all, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["test"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    ref = con.execute(registry._ORACLE_CURATION).fetchall()
    con.close()
    strata = {r[0]: r[4] for r in ref}
    assert [strata[i] for i in keep_all] == list(TEXTS)
    assert [r[4] for r in ref if r[0] is None] == ["hi"]

    got = registry.q_curation_pipeline(spark, str(tmp_path))
    assert got.columns == ["doc_id", "shard", "bin", "offset", "stratum", "quality"]
    assert _sorted(tuple(r) for r in got.collect()) == _sorted(ref)
