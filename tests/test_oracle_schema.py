"""Type-parity gate between every oracle's DuckDB result and the Spark
result.

Round-1 lesson: the driver's value hash is TYPE-sensitive. Five oracles
left one aggregate un-cast, so DuckDB returned HUGEINT
(Arrow ``decimal128(38,0)``) where Spark returned int64 — values equal,
hash red. The plain value compare in ``test_correctness.py`` cannot see
this (``fetchall`` collapses both to Python ``int``), so this module
compares the *Arrow* schema of the DuckDB oracle against the Spark
result schema for every oracled query, with a normalization that keeps
exactly the distinctions a hash of the serialized values would keep.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from gmall_realtime_ck_spark import registry

ORACLED = sorted(n for n in registry.BUILDERS if n in registry.ORACLES)
STREAM_ORACLED = sorted(n for n in registry.STREAM_BUILDERS if n in registry.ORACLES)


def _canon(t: pa.DataType) -> str:
    """Collapse benign Arrow-encoding variants, keep value-affecting ones.

    string/large_string hash identically; int64 vs decimal128 does not.
    Integer widths collapse (the driver hashes Python ints — r1 evidence:
    ``label_centroids`` int32-vs-int64 hashed green while
    ``q1_pricing_summary`` int64-vs-decimal128 hashed red). Timestamps:
    DuckDB yields tz-naive us, Spark session-tz us — values are rendered
    identically by the driver (wall-clock), so unit matters, tz does not.
    """
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_canon(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_canon(t.key_type)},{_canon(t.item_type)}>"
    return str(t)


def _schema_types(table: pa.Table) -> dict[str, str]:
    return {f.name: _canon(f.type) for f in table.schema}


def _assert_scalar_schema(name: str, schema) -> None:
    """Driver-hashability lint: the driver canonicalizer (pandas
    sort_values → factorize) throws on list/struct/map cells, so no
    declared query may emit one (r3: `corpus_inverted_index` went red
    exactly this way). Stringify with array_join / to_json instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [f.name for f in schema.fields if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not bad, (
        f"{name}: non-scalar output column(s) {bad} — the driver cannot hash "
        "array/struct/map; emit array_join(...)/to_json(...) in both engines"
    )


DECLARED_BATCH = sorted(registry.BUILDERS)


@pytest.mark.parametrize("name", DECLARED_BATCH)
def test_declared_output_schema_is_scalar(name, tables):
    _assert_scalar_schema(name, registry.BUILDERS[name](tables).schema)


def _assert_parity(name: str, spark_df, duck_rel) -> None:
    _assert_scalar_schema(name, spark_df.schema)
    spark_tbl = spark_df.limit(1).toArrow()
    duck_tbl = duck_rel.limit(1).arrow()
    s, d = _schema_types(spark_tbl), _schema_types(duck_tbl)
    assert set(s) == set(d), f"{name}: column sets differ: {sorted(s)} vs {sorted(d)}"
    diffs = {c: (s[c], d[c]) for c in s if s[c] != d[c]}
    assert not diffs, (
        f"{name}: oracle/Spark Arrow type drift (spark, duckdb): {diffs} — "
        "cast the oracle column (e.g. ::BIGINT on SUM/// aggregates)"
    )


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_arrow_schema_matches_spark(name, spark, tables, duck):
    _assert_parity(name, registry.BUILDERS[name](tables), duck.sql(registry.ORACLES[name]))


@pytest.mark.parametrize("name", STREAM_ORACLED)
def test_stream_oracle_arrow_schema_matches_spark(name, spark, duck):
    from tests.conftest import SF_DIR

    df = registry.STREAM_BUILDERS[name](spark, SF_DIR)
    _assert_parity(name, df, duck.sql(registry.ORACLES[name]))


def test_no_oracle_emits_negative_zero(duck):
    """Negative-zero lint (r9): DuckDB float aggregates can round dust
    to -0.0 with a run-varying sign; Python compares -0.0 == 0.0 so
    value asserts pass, but the driver's string canonicalizer
    distinguishes them — corpus_heaps_law's slope flipped rows red
    ~50% of fresh-JVM runs before its `+ 0.0` normalization. Any
    oracle emitting a -0.0 cell is one dust-sign away from the same
    intermittent red row, so the whole surface is linted here (one
    DuckDB pass; builders that CAN structurally yield zero must
    normalize in both engines the way corpus_heaps_law does)."""
    import math

    offenders = []
    for name, sql in sorted(registry.ORACLES.items()):
        for row in duck.sql(sql).fetchall():
            if any(
                isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
                for v in row
            ):
                offenders.append(name)
                break
    assert not offenders, f"oracles emitting -0.0 cells: {offenders}"
