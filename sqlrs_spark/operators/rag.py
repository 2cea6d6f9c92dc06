"""RAG-corpus preparation: chunk → embed → IVF-assign → index stats as ONE
declarative plan.

Composes the pipeline families end-to-end the way a retrieval-corpus
build actually runs: documents are chunked into overlapping token windows
(operators/text.t05's shape), each chunk gets an embedding (deterministic
md5-derived fake — the production build swaps ONE expression for a model
forward pass via mapInPandas, exactly like operators/multimodal.m03), and
chunks are assigned to their best coarse centroid (the IVF index build of
operators/similarity.p08/p18). Because the fake embedding is md5-derived,
the whole pipeline — including the float dot products — is reproducible
in DuckDB, so the driver's value-hash gate covers the composition, not
just the pieces.

Scale: chunking is a shuffle-free explode; embeddings are map-side
expressions; the centroid table (4 rows) broadcasts; the only shuffle is
the final per-list aggregation. Chunk count ≈ corpus tokens / stride —
the plan's cost is one scan regardless of corpus size.
"""

from __future__ import annotations

from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark
from sqlrs_spark.operators.common import table_ref
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

_CHUNK, _STRIDE = 32, 24  # same windows as t05
_DIM = 8
_K = 4


def _p19(spark_dialect: bool) -> str:
    if spark_dialect:
        split = "split(text, ' ')"
        series = f"explode(sequence(0, greatest(size(toks) - 1, 0), {_STRIDE}))"
        chunk_text = f"array_join(slice(toks, chunk_start + 1, {_CHUNK}), ' ')"
        dims = f"sequence(0, {_DIM - 1})"
        emb_coef = (
            "(pmod("
            + md5int_spark("concat(chunk_text, ':', cast(d as string))")
            + ", 2001) - 1000) / 1000.0"
        )
        emb = f"transform({dims}, d -> {emb_coef})"
        cent_coef = (
            "(pmod("
            + md5int_spark("concat('cent:', cast(c as string), ':', cast(d as string))")
            + ", 2001) - 1000) / 1000.0"
        )
        cents_src = f"SELECT explode(sequence(0, {_K - 1})) AS c"
        cv = f"transform({dims}, d -> {cent_coef})"
        dot = (
            "aggregate(zip_with(e, cv, (x, y) -> x * y), "
            "cast(0.0 as double), (a, p) -> a + p)"
        )
    else:
        split = "string_split(text, ' ')"
        series = "unnest(generate_series(0, len(toks) - 1, %d))" % _STRIDE
        chunk_text = (
            f"array_to_string(list_slice(toks, chunk_start + 1, chunk_start + {_CHUNK}), ' ')"
        )
        emb_coef = (
            "(("
            + md5int_duck("concat(chunk_text, ':', d::VARCHAR)")
            + " % 2001) - 1000) / 1000.0"
        )
        emb = f"list_transform(range(0, {_DIM}), d -> {emb_coef})"
        cent_coef = (
            "(("
            + md5int_duck("concat('cent:', c::VARCHAR, ':', d::VARCHAR)")
            + " % 2001) - 1000) / 1000.0"
        )
        cents_src = f"SELECT unnest(range(0, {_K})) AS c"
        cv = f"list_transform(range(0, {_DIM}), d -> {cent_coef})"
        dot = "list_dot_product(e, cv)"
    return f"""
WITH chunks AS (
  SELECT doc_id, chunk_start, {chunk_text} AS chunk_text
  FROM (
    SELECT doc_id, toks, {series} AS chunk_start
    FROM (SELECT doc_id, {split} AS toks FROM {table_ref('documents', spark_dialect)}
          WHERE text IS NOT NULL) t
  ) s
),
embedded AS (
  SELECT doc_id, chunk_start, {emb} AS e FROM chunks
),
cents AS (
  SELECT c AS cent_id, {cv} AS cv FROM ({cents_src}) base
),
assigned AS (
  SELECT doc_id, chunk_start, cent_id FROM (
    SELECT em.doc_id, em.chunk_start, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY em.doc_id, em.chunk_start
                              ORDER BY {dot} DESC, ct.cent_id) AS rn
    FROM embedded em JOIN cents ct ON true
  ) r WHERE rn = 1
)
SELECT cent_id,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM assigned
GROUP BY cent_id
ORDER BY cent_id
"""


@register("p19_rag_prep", oracle=_p19(False), tags=("pipeline", "similarity", "text"))
def p19_rag_prep(spark, sf_dir):
    """End-to-end RAG-corpus build: overlapping-window chunking, per-chunk
    embedding (deterministic md5 stand-in for the encoder), best-centroid
    IVF assignment, per-list index statistics — one declarative plan.

    The dot-product argmax runs per chunk against the broadcast 4-row
    centroid table (ROW_NUMBER over a 4-row partition — constant state);
    float dots are association-order-identical in both engines (zip_with
    left fold ≡ list_dot_product), which is what lets the ORACLE check a
    float-ranked pipeline exactly.  Swap the embedding expression for a
    pandas-UDF model call and the surrounding plan — chunk fan-out,
    broadcast assignment, list stats — is unchanged.
    """
    return spark.sql(_p19(True), documents=load_table(spark, sf_dir, "documents"))
