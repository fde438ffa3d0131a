"""Seeded inputs of the ``refresh`` workload.

BLS-style whitespace series files, a population JSON payload, an
upstream change for the second mirror sync, and the operation stream
run against the silver table. Everything is a pure function of the
seed, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

FOCUS_SERIES = "PRS30006032"
BLS_BASE = "https://bench.invalid/pub/time.series/pr/"
POP_URL = "https://bench.invalid/api/population"
_HEADER = "series_id                     \tyear\tperiod\t       value\tfootnote_codes\n"
_PERIODS = ("Q01", "Q02", "Q03", "Q04", "Q05")
_YEARS = tuple(range(1995, 2025))


@dataclass
class RefreshInputs:
    """Everything the refresh workload feeds the engine, from one seed."""

    files: dict[str, bytes]  # upstream BLS files, first sync
    files_v2: dict[str, bytes]  # upstream after the seeded change
    population: bytes  # population API payload
    rows: dict[str, list[tuple]]  # parsed rows of each v1 file
    population_rows: list[tuple]  # (Year, Population)
    ops: list[dict]  # the operation stream


def _series_ids(rng, n, taken):
    out = []
    while len(out) < n:
        sid = f"PRS{int(rng.integers(10_000_000, 99_999_999))}"
        if sid not in taken:
            taken.add(sid)
            out.append(sid)
    return out


def _bls_file(rng, series, n_years):
    """One whitespace file: header, then every (series, year, period)
    cell of ``n_years`` years; values carry one decimal so sums are
    exact multiples of 0.1. Returns (bytes, parsed rows)."""
    lines, rows = [_HEADER], []
    for sid in series:
        start = int(rng.integers(0, len(_YEARS) - n_years + 1))
        for year in _YEARS[start:start + n_years]:
            for period in _PERIODS:
                value = round(float(rng.integers(-2000, 20000)) / 10.0, 1)
                lines.append(f"{sid:<30}\t{year}\t{period}\t{value:>12}\t\n")
                rows.append((sid, year, period, value))
        lines.append("\n")  # blank lines between series, as upstream has
    return "".join(lines).encode(), rows


def refresh_inputs(seed: int, n_files: int = 4, series_per_file: int = 300,
                   n_years: int = 20, rounds: int = 1) -> RefreshInputs:
    """BLS files, population payload, upstream change and op stream for ``seed``."""
    rng = np.random.default_rng(seed)
    taken = {FOCUS_SERIES}
    files, rows = {}, {}
    for f in range(n_files):
        series = _series_ids(rng, series_per_file, taken)
        if f == 0:
            series[0] = FOCUS_SERIES
        name = f"pr.data.{f}.Series{f}"
        files[name], rows[name] = _bls_file(rng, series, n_years)
    pop_rows = [(y, float(310_000_000 + int(rng.integers(0, 2_000_000)) + (y - 2010) * 2_300_000))
                for y in range(2010, 2024)]
    population = json.dumps({
        "data": [
            {"ID Nation": "01000US", "Nation": "United States", "ID Year": y,
             "Year": str(y), "Population": int(p), "Slug Nation": "united-states"}
            for y, p in pop_rows
        ],
        "source": [{"name": "bench"}],
    }).encode()

    # upstream change for the second sync: one file rewritten, one
    # removed, one added; the rest unchanged
    names = sorted(files)
    files_v2 = dict(files)
    changed, removed = names[1 + int(rng.integers(0, len(names) - 2))], names[-1]
    files_v2[changed], _ = _bls_file(rng, _series_ids(rng, series_per_file, taken), n_years)
    del files_v2[removed]
    files_v2[f"pr.data.{n_files}.Added"], _ = _bls_file(
        rng, _series_ids(rng, series_per_file // 2, taken), n_years)

    all_series = sorted({r[0] for rs in rows.values() for r in rs})
    return RefreshInputs(files, files_v2, population, rows, pop_rows,
                         _op_stream(rng, all_series, taken, rounds, n_years))


#: one round of the operation stream, in order: every write and read
#: kind, so seeds change which rows an operation touches but not the
#: mix, the order, the share of the table each one selects or how many
#: versions back a time-travel read goes
OP_ROUND = ("append", "read_version", "delete", "read_filtered", "update", "append",
            "merge", "read_version", "checkpoint", "delete", "read_changes", "append",
            "update", "compact", "read_version", "read_filtered")


def _op_stream(rng, series, taken, rounds, n_years):
    """``rounds`` copies of ``OP_ROUND`` on the silver table
    ``(series_id, year, period, value)``, parameters drawn from ``rng``.
    Predicates are SQL strings that Spark and DuckDB evaluate
    identically; row payloads are literal lists so the DuckDB model
    applies the same changes."""
    width = max(1, len(series) // 10)

    def window() -> str:  # a tenth of the series, at a seeded position
        lo = int(rng.integers(0, len(series) - width))
        hi = f"series_id < '{series[lo + width]}'" if lo + width < len(series) else "TRUE"
        return f"series_id >= '{series[lo]}' AND {hi}"

    ops = []
    for kind in OP_ROUND * rounds:
        year = int(rng.choice(_YEARS[5:-5]))
        if kind == "append":
            new = _series_ids(rng, 4, taken)
            ops.append({"op": "append", "rows": [
                [s, y, p, round(float(rng.integers(0, 9999)) / 10.0, 1)]
                for s in new for y in _YEARS[-n_years // 2:] for p in _PERIODS]})
        elif kind == "delete":
            ops.append({"op": "delete", "predicate": f"{window()} AND year = {year}"})
        elif kind == "update":
            ops.append({"op": "update",
                        "predicate": f"{window()} AND year = {year} "
                                     f"AND period = 'Q0{int(rng.integers(1, 6))}'",
                        "delta": round(float(rng.integers(1, 50)) / 10.0, 1)})
        elif kind == "merge":
            picks = [series[int(j)] for j in rng.integers(0, len(series), 20)]
            upd = {(s, year, p) for s in picks for p in _PERIODS[:2]}
            upd |= {(s, 2030, "Q01") for s in _series_ids(rng, 10, taken)}
            ops.append({"op": "merge", "rows": [
                [s, y, p, round(float(rng.integers(0, 9999)) / 10.0, 1)]
                for s, y, p in sorted(upd)]})
        elif kind == "read_version":
            ops.append({"op": "read_version", "back": 3})
        elif kind == "read_filtered":
            ops.append({"op": "read_filtered",
                        "predicate": f"{window()} AND year BETWEEN {year} AND {year + 3}"})
        elif kind == "read_changes":
            ops.append({"op": "read_changes", "back": 3})
        elif kind == "compact":
            ops.append({"op": "compact", "target_files": 2})
        else:
            ops.append({"op": "checkpoint"})
    return ops
