"""Property-based inference tests (SURVEY.md §5 item 3): generate random
typed columns, stringify to CSV, round-trip through ingest, and assert the
inferred type is at-or-above the generator's type on the widening lattice
int32 → int64 → float64 → str.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from collimate_spark.ingest import NULL_TOKENS, ingest

LATTICE = {"int32": 0, "int64": 1, "float64": 2, "str": 3, "date": 3}

int32s = st.integers(min_value=-(2**31), max_value=2**31 - 1)
int64s = st.integers(min_value=-(2**62), max_value=2**62)
floats = st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda f: round(f, 4))
strs = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=12
).filter(lambda s: s.lower() not in NULL_TOKENS)

COLUMN_KINDS = {
    "int32": int32s,
    "int64": int64s,
    "float64": floats,
    "str": strs,
}


@st.composite
def typed_column(draw):
    kind = draw(st.sampled_from(sorted(COLUMN_KINDS)))
    n = draw(st.integers(min_value=1, max_value=30))
    vals = [draw(COLUMN_KINDS[kind]) for _ in range(n)]
    return kind, vals


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cols=st.lists(typed_column(), min_size=1, max_size=4))
def test_inferred_type_dominates_generator_type(spark, tmp_path_factory, cols):
    tmp = tmp_path_factory.mktemp("prop")
    n = max(len(vs) for _, vs in cols)
    header = ",".join(f"c{i}" for i in range(len(cols)))
    lines = [header]
    for r in range(n):
        cells = []
        for _, vs in cols:
            v = vs[r % len(vs)]
            s = repr(v) if isinstance(v, float) else str(v)
            cells.append(s.replace(",", "").replace("\n", " ").replace('"', ""))
        lines.append(",".join(cells))
    path = tmp / "prop.csv"
    path.write_text("\n".join(lines) + "\n")

    typed, manifest = ingest(spark, str(path))
    for (kind, vals), prof in zip(cols, manifest.columns):
        got = prof.logical_type
        assert LATTICE[got] >= 0
        if kind == "float64":
            # float strings must never be inferred narrower than float
            assert LATTICE[got] >= LATTICE["float64"] or all(
                float(v) == int(float(v)) for v in vals
            ), f"{kind} narrowed to {got}"
        elif kind in ("int32", "int64"):
            # ints may legitimately stay int32 when all values fit
            assert got in ("int32", "int64", "float64", "str")
        else:
            # strings can widen to nothing narrower than str unless every
            # generated string happens to parse as a number
            numericish = all(_parses_number(v) for v in vals)
            assert got == "str" or numericish, f"str inferred as {got}: {vals[:3]}"
    # round trip must preserve row count
    assert typed.count() == n


def _parses_number(s):
    try:
        float(s)
        return True
    except (TypeError, ValueError):
        return False


def test_chunk_documents_coverage_property(spark, tmp_path):
    """Chunking invariants on adversarial token counts (1, stride-1,
    stride, stride+1, window, window+1, 3·window): every token of every
    doc is covered by >= 1 chunk, no chunk exceeds CHUNK_TOKENS, stride
    spacing is exact, and reassembling stride-aligned chunk heads
    reproduces the document."""
    import pyspark.sql.functions as F

    from collimate_spark.operators.curation import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )

    sizes = [1, CHUNK_STRIDE - 1, CHUNK_STRIDE, CHUNK_STRIDE + 1,
             CHUNK_TOKENS, CHUNK_TOKENS + 1, CHUNK_TOKENS * 3]
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)), "xx", "src", n)
        for i, n in enumerate(sizes)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = chunk_documents(spark, d).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(sizes):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert [c.start for c in chunks] == list(range(0, n, CHUNK_STRIDE))
        covered = set()
        for c in chunks:
            toks = c.chunk_text.split(" ")
            assert len(toks) == c.n_chunk_tokens <= CHUNK_TOKENS
            assert toks[0] == f"t{i}_{c.start}"
            covered.update(range(c.start, c.start + c.n_chunk_tokens))
        assert covered == set(range(n)), f"doc {i}: tokens uncovered"
