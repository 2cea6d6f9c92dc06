"""Degenerate-corpus sweep: every documents-only operator vs its oracle
on a corpus carrying NULL and empty texts.

Round-6 review found two latent bugs of the same class (p37's
driver-side fold crashed on a NULL-text row; m09 emitted phantom rows
for empty docs because Spark's sequence(0, -1) descends) — latent
because the driver testdata happens to contain no NULL/empty text.
This sweep closes the class: for EVERY registry operator whose oracle
reads only the documents table, run Spark and DuckDB on a constructed
corpus where ~1/13 of texts are NULL and ~1/7 are empty, and require
the same agreement the driver's gate requires.  An operator may choose
any NULL policy (skip, count, classify) — it just has to implement the
SAME policy in both engines.
"""

from __future__ import annotations

import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlrs_spark.registry import all_specs
from tests.oracle import compare
from tests.test_load_table import schema_mismatches

SPECS = all_specs()

_OTHER_TABLES = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events|embeddings)\b"
)


def _documents_only_specs():
    out = []
    for name, s in SPECS.items():
        if not s.oracle or "documents" not in s.oracle:
            continue
        if _OTHER_TABLES.search(s.oracle):
            continue
        if "streaming" in s.tags:  # availableNow drain per op — too heavy here
            continue
        out.append(name)
    return out


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    texts = []
    for i in range(60):
        if i % 13 == 0:
            texts.append(None)
        elif i % 7 == 0:
            texts.append("")
        else:
            texts.append(f"tok{i} tok{i % 5} the quick tok{i % 3} brown fox")
    d = str(tmp_path_factory.mktemp("degenerate_docs"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [["en", "en", "fr", "de", "zh"][i % 5] for i in range(len(texts))],
                    pa.string(),
                ),
                "source": pa.array(
                    [f"s{i % 4}" for i in range(len(texts))], pa.string()
                ),
                "n_chars": pa.array(
                    [len(t) if t else 0 for t in texts], pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


@pytest.fixture(scope="module")
def degenerate_duck(degenerate_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{degenerate_dir}/documents.parquet'"
    )
    return con


def test_degenerate_corpus_loads_with_the_inferred_schema(spark, degenerate_dir):
    assert schema_mismatches(spark, degenerate_dir, ["documents"]) == []


@pytest.mark.parametrize("name", _documents_only_specs())
def test_documents_op_survives_degenerate_corpus(
    spark, name, degenerate_dir, degenerate_duck
):
    spec = SPECS[name]
    ok, msg = compare(spec.fn(spark, degenerate_dir), degenerate_duck, spec.oracle)
    assert ok, f"{name}: {msg}"
