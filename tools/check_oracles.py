"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf, then compares row count,
sorted column names, and an order-insensitive value hash (values normalized:
floats rounded to 9 significant-ish decimals, timestamps/dates to ISO
strings, arrays/structs to repr). Exit code 1 on any mismatch.

Usage: python tools/check_oracles.py [--rows-out] [--sweep-out PATH]
           [--slowest-first] [--shard I/K] [sf_dir] [query ...]
  --rows-out  merge each checked query's Spark row count into the committed
              sweep_rows.json ledger ({query: {sf: rows}}), keyed by the
              sf_dir basename. tests/test_entry_contract.py reads that
              ledger to assert every registered query is NON-TRIVIAL —
              returns >0 rows at at least one recorded scale (a 0-row hash
              match is a weak certificate).
  --sweep-out PATH
              also write the per-query results to PATH in the
              CORRECTNESS_r*.json row schema ({name: {rows_match,
              schema_match, hash_match, spark_rows, oracle_rows, err}}),
              plus "secs" (per-query wall time, the scheduling sidecar for
              the slow-oracle tail) and one "__meta__" record carrying
              full_registry/scope, so a partial (named-query / --shard) run
              can never pose as a full-registry sweep. The committed
              full-registry SWEEP_r*.json is the correctness record.
  --slowest-first
              order the run by recorded per-query durations (desc) from
              the newest committed SWEEP_r*.json, unknown queries first —
              fronts the slow-oracle tail so a killed sweep resumes
              cheaply and a split sweep balances.
  --shard I/K squares with --slowest-first data: run shard I of K (0-based)
              of a duration-balanced greedy split, so K concurrent
              processes finish together instead of one eating the whole
              slow tail. Shards are disjoint and their union is the full
              query set; sweep artifacts from shards carry
              full_registry=false (merge + rerun meta via a final full
              pass, or stitch with your own tooling).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_datasource_orc_spark.session import get_spark
from datafusion_datasource_orc_spark.sources.tables import TABLES


def _norm_cell(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, np.ndarray):
        return _norm_cell(v.tolist())
    if not isinstance(v, (list, tuple, dict)) and pd.isna(v):
        # pandas renders NULLs in numeric columns as NaN on BOTH engines'
        # frames, so NaN is the canonical null for the pandas-based path.
        return "nan"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        s = f"{v:.9g}"
        # Keep float-typed cells distinct from integer cells ("3.0" vs "3"):
        # the driver's pandas-based comparator preserves dtype, so a DuckDB
        # HUGEINT (rendered float64) must NOT silently match a Spark BIGINT.
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, decimal.Decimal):
        return _norm_cell(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "asDict"):
        # struct cells, Spark side: toPandas yields Row — normalize via its
        # key-SORTED dict (field order is schema order, which need not match
        # the DuckDB dict's key order)
        d = v.asDict()
        return "[" + ",".join(_norm_cell(d[k]) for k in sorted(d)) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        # struct cells, DuckDB side: .df() yields dict — same key-sorted
        # normalization so identical structs match and nested floats still
        # get the 9-sig-fig rounding
        return "[" + ",".join(_norm_cell(v[k]) for k in sorted(v)) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _recorded_secs(sf_key: str | None = None) -> dict[str, float]:
    """Per-query durations for --slowest-first / --shard. Sources, in
    overlay order: the NEWEST committed SWEEP_r*.json that carries secs
    (sf0.01 figures — the r13 format), then sweep_durations.json's
    entries for the TARGET scale when present (tools/
    sweep_log_durations.py merges them from sweep logs) — so an sf0.1 run
    fronts the sf0.1 long pole (dedup_substring_spans' ~17-min oracle),
    not a proxy."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    best: dict[str, float] = {}
    # guard: the glob admits names the round regex does not (e.g. a shard
    # artifact SWEEP_r13_shard0.json) — skip them instead of crashing
    matched = []
    for p in glob.glob(os.path.join(repo, "SWEEP_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            matched.append((int(m.group(1)), p))
    paths = [p for _, p in sorted(matched)]
    for path in paths:  # ascending: newest recorded secs win
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if isinstance(rec, dict) and isinstance(rec.get("secs"), (int, float)):
                best[name] = float(rec["secs"])
    if sf_key:
        try:
            with open(os.path.join(repo, "sweep_durations.json")) as f:
                per_scale = json.load(f)
        except (OSError, ValueError):
            per_scale = {}
        for name, scales in per_scale.items():
            if isinstance(scales, dict) and isinstance(
                scales.get(sf_key), (int, float)
            ):
                best[name] = float(scales[sf_key])
    return best


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    rows_out = "--rows-out" in args
    if rows_out:
        args.remove("--rows-out")
    sweep_out = None
    if "--sweep-out" in args:
        i = args.index("--sweep-out")
        if i + 1 >= len(args):
            print("usage: --sweep-out PATH (path operand missing)", file=sys.stderr)
            return 2
        sweep_out = args[i + 1]
        del args[i : i + 2]
    slowest_first = "--slowest-first" in args
    if slowest_first:
        args.remove("--slowest-first")
    shard = None  # (i, k)
    if "--shard" in args:
        i = args.index("--shard")
        try:
            si, sk = args[i + 1].split("/")
            shard = (int(si), int(sk))
            assert 0 <= shard[0] < shard[1]
        except (IndexError, ValueError, AssertionError):
            print("usage: --shard I/K with 0 <= I < K", file=sys.stderr)
            return 2
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    registry_names = set(qs)
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    if slowest_first or shard:
        secs = _recorded_secs(os.path.basename(os.path.normpath(sf_dir)))
        # unknown-duration queries first (they are this round's new work —
        # and pessimistically 'slow' for shard balancing at 60 s each)
        ordered = sorted(
            qs, key=lambda n: (n in secs, -secs.get(n, 60.0), n)
        )
        if shard:
            i_mine, k = shard
            loads = [0.0] * k
            mine = []
            for n in ordered:  # greedy LPT onto the least-loaded shard
                tgt = loads.index(min(loads))
                loads[tgt] += secs.get(n, 60.0)
                if tgt == i_mine:
                    mine.append(n)
            qs = {n: qs[n] for n in mine}
            print(
                f"shard {i_mine}/{k}: {len(qs)} queries, "
                f"~{loads[i_mine]:.0f}s recorded load"
            )
        else:
            qs = {n: qs[n] for n in ordered}
    full_registry = set(qs) == registry_names

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    spark_rows: dict[str, int] = {}
    sweep: dict[str, dict] = {}  # CORRECTNESS row schema, for --sweep-out
    for name, fn in qs.items():
        t0 = time.perf_counter()
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        sweep[name] = rec
        try:
            sdf = fn(spark, sf_dir)
            # pandas path, NOT collect(): the driver's comparator converts
            # both sides to pandas frames, which changes cell types (DuckDB
            # HUGEINT -> float64, NULL-able ints -> float64/NaN). Replicate.
            spdf = sdf.toPandas()
            srows = list(spdf.itertuples(index=False, name=None))
            scols = list(spdf.columns)
            spark_rows[name] = len(srows)
            rec["spark_rows"] = len(srows)
        except Exception as e:
            rec["err"] = f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"
            rec["secs"] = round(time.perf_counter() - t0, 1)
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL  {name:28s} spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            rec["err"] = "no_oracle"
            rec["secs"] = round(time.perf_counter() - t0, 1)
            print(f"weak  {name:28s} rows={len(srows)} ({time.perf_counter()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append((name, "weak check returned 0 rows"))
            continue
        try:
            opdf = con.execute(oracles[name]).df()
            ocols = list(opdf.columns)
            orows = list(opdf.itertuples(index=False, name=None))
            rec["oracle_rows"] = len(orows)
        except Exception as e:
            rec["err"] = f"ORACLE ERROR: {str(e)[:300]}"
            rec["secs"] = round(time.perf_counter() - t0, 1)
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name:28s} oracle error: {str(e)[:200]}")
            continue
        problems = []
        rec["rows_match"] = len(srows) == len(orows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        rec["schema_match"] = sorted(scols) == sorted(ocols)
        if not rec["schema_match"]:
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            rec["hash_match"] = sh == oh and rec["rows_match"]
            if sh != oh:
                problems.append("value hash mismatch")
        dt = time.perf_counter() - t0
        rec["secs"] = round(dt, 1)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name:28s} {'; '.join(problems)} ({dt:.1f}s)")
        else:
            print(f"ok    {name:28s} rows={len(srows)} ({dt:.1f}s)")

    if rows_out:
        # merge (never replace): the ledger accumulates scales and rounds,
        # and a subset run must not drop other queries' recorded counts
        import json

        ledger_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "sweep_rows.json",
        )
        try:
            with open(ledger_path) as f:
                ledger = json.load(f)
        except (OSError, ValueError):
            ledger = {}
        sf_key = os.path.basename(os.path.normpath(sf_dir))
        for name, n in spark_rows.items():
            ledger.setdefault(name, {})[sf_key] = n
        with open(ledger_path, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"merged {len(spark_rows)} row counts into {ledger_path} [{sf_key}]")

    if sweep_out:
        import json

        # scope record: a partial run (named queries, --shard) must be
        # distinguishable from a full-registry sweep. No hash_match key, so
        # a scan over query rows never mistakes it for one.
        meta = {
            "full_registry": full_registry,
            "n_registry": len(registry_names),
            "n_run": len(sweep),
            "sf": os.path.basename(os.path.normpath(sf_dir)),
        }
        with open(sweep_out, "w") as f:
            json.dump({"__meta__": meta, **sweep}, f, indent=1)
            f.write("\n")
        print(
            f"wrote {len(sweep)} sweep records to {sweep_out} "
            f"(full_registry={full_registry})"
        )

    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok")
    if failures:
        print("failures:")
        for n, p in failures:
            print(f"  {n}: {p[:300]}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
