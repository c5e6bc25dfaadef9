"""Output check against the registered DuckDB oracles.

The comparison (row count, column names, order-insensitive value hash,
oracle result-type gate) is the one ``scripts/check_oracle.py`` applies;
this module imports it rather than restating it. Some oracles take far
longer than their Spark op (``apm_dataset_pipeline``'s ran 37 s at sf0.1
on 4 cores), so each oracle's canonical result is kept in a cache file,
keyed by the oracle SQL and the input files' names, sizes and mtimes.
Oracles run in a child process, so DuckDB's memory never shows in the
benchmark process's peak RSS.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _oracle_result(sf_dir: str, tables: list[str], sql: str) -> dict:
    """Run one oracle in DuckDB: its columns, row count and row-set digest
    (or the unsafe result types that make it uncomparable)."""
    import duckdb

    co = _check_oracle()
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        rel = con.sql(sql)
        cols = list(rel.columns)
        types = [str(t) for t in rel.types]
        rows = rel.fetchall()
    finally:
        con.close()
    return {
        "unsafe": [f"{c}:{t}" for c, t in zip(cols, types) if not co._type_ok(t)],
        "columns": sorted(cols),
        "rows": len(rows),
        "digest": _digest(co.row_set(cols, rows)),
    }


class OracleChecker:
    """Compares Spark outputs with each op's oracle on one sf directory."""

    def __init__(self, sf_dir: str, cache_path: str):
        from accident_prediction_montreal_spark.sources.registry import TABLES

        self._co = _check_oracle()
        self._sf_dir = sf_dir
        self._tables = sorted(TABLES)
        self._pool = None
        stats = [os.stat(os.path.join(sf_dir, f"{t}.parquet")) for t in self._tables]
        self._inputs = json.dumps(
            [(t, s.st_size, s.st_mtime_ns) for t, s in zip(self._tables, stats)]
        )
        self._cache_path = cache_path
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except FileNotFoundError:
            self._cache = {}

    def _oracle(self, sql: str) -> dict:
        """The oracle's canonical result, from the cache or a child process."""
        key = hashlib.sha256((sql + self._inputs).encode()).hexdigest()
        if key not in self._cache:
            if self._pool is None:
                self._pool = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
            self._cache[key] = self._pool.submit(
                _oracle_result, self._sf_dir, self._tables, sql
            ).result()
            os.makedirs(os.path.dirname(self._cache_path), exist_ok=True)
            with open(self._cache_path, "w") as f:
                json.dump(self._cache, f, indent=1)
        return self._cache[key]

    def prefetch(self, oracle_sqls) -> None:
        """Fill the cache for these oracles (``None`` ones skipped), then
        end the child process. Called on every workload's ops by the
        first run in a checkout, so no later run pays for an oracle."""
        for sql in oracle_sqls:
            if sql is not None:
                self._oracle(sql)
        self.close()

    def problems(self, oracle_sql: str | None, df) -> list[str]:
        """What differs between ``df``'s rows and the oracle's; empty when
        they match. An op without an oracle is checked for rows only."""
        srows = df.collect()
        scols = df.columns
        if oracle_sql is None:
            return [] if srows else ["no rows and no oracle"]
        want = self._oracle(oracle_sql)
        if want["unsafe"]:
            return [f"unsafe oracle result types {want['unsafe']}"]
        if sorted(scols) != want["columns"]:
            return [f"columns spark={sorted(scols)} duck={want['columns']}"]
        if len(srows) != want["rows"]:
            return [f"rowcount spark={len(srows)} duck={want['rows']}"]
        got = self._co.row_set(scols, [[r[c] for c in scols] for r in srows])
        if _digest(got) != want["digest"]:
            return ["values differ (order-insensitive hash)"]
        return []

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown()
            self._pool = None
