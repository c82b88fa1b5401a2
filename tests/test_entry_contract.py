"""Driver-contract shape tests for __spark_entry__.

The external driver imports entry/queries/oracle_sql and relies on: a stable
entry() schema, every queries() value being a (spark, sf_dir) callable, and
oracle keys being a subset of query names. A regression here fails the
driver's gate before any correctness comparison even runs — cheapest
possible guard.
"""

from __future__ import annotations

import inspect

import __spark_entry__ as entrymod


def test_entry_returns_stable_schema(spark):
    df = entrymod.entry(spark)
    assert df.schema.simpleString() == "struct<l_returnflag:string,cnt:bigint>"
    assert len(df.collect()) >= 1


def test_queries_are_two_arg_callables():
    q = entrymod.queries()
    assert len(q) >= 144
    for name, fn in q.items():
        assert callable(fn), name
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (inspect.Parameter.POSITIONAL_ONLY, inspect.Parameter.POSITIONAL_OR_KEYWORD)
        ]
        assert len(params) == 2, f"{name} must take exactly (spark, sf_dir)"


def test_oracle_keys_subset_of_queries_and_nonempty_sql():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH")) for s in o.values())


def test_query_names_are_identifier_like():
    for name in entrymod.queries():
        assert name.replace("_", "").isalnum() and name == name.lower(), name


def test_no_nested_or_date_output_columns(spark, sf_dir):
    """Driver-comparator conventions, enforced at the schema level (plans
    are built, never executed):

    - no array/map/struct outputs — the pandas-based canonicalizer crashes
      on list/dict cells; serialize at the boundary (array_join/to_json);
    - no DATE outputs — Spark dates reach pandas as datetime.date objects
      while DuckDB DATE becomes datetime64 midnight Timestamps, which can
      never hash-match; emit TIMESTAMP_NTZ (Spark) / TIMESTAMP (DuckDB)
      instead (naive datetime64 on both engines)."""
    from pyspark.sql import types as T

    offenders = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType, T.DateType)
            ):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def test_queries_are_registry_order():
    """No gate samples a prefix of queries(), so it is the registry itself,
    in registration order; the committed full-registry SWEEP_r*.json is the
    correctness record."""
    from datafusion_datasource_orc_spark.operators import QUERIES

    assert list(entrymod.queries()) == list(QUERIES)


def test_every_registered_query_is_nontrivial_at_some_scale():
    """Judge r08 task 5: a 0-row hash match is a weak certificate. Every
    registered query must return >0 rows at at least one committed scale,
    as recorded in sweep_rows.json (written by
    `tools/check_oracles.py --rows-out <sf_dir>` during the per-round
    sweeps — table-driven off the sweep ledger, so the assertion tracks
    exactly what the sweeps measured, not a hand-maintained list)."""
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "sweep_rows.json")) as f:
        ledger = json.load(f)
    names = set(entrymod.queries())
    missing = sorted(names - set(ledger))
    assert not missing, (
        f"{len(missing)} queries have no recorded sweep row count "
        f"(e.g. {missing[:5]}); run tools/check_oracles.py --rows-out"
    )
    trivial = sorted(
        n for n in names if not any(v > 0 for v in ledger[n].values())
    )
    assert not trivial, (
        f"{len(trivial)} queries return 0 rows at every recorded scale: "
        f"{trivial} — extend the fixture (the multimodal_phash_neardup twin "
        "precedent) or tighten the query"
    )
