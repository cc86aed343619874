"""Seeded ODS corpus for the ``etl_ingest`` workload, and the pure-Python
model of what the ingest must produce from it.

The corpus has the shape of the ANATEL IDA spreadsheets the reference
ingests: one ``.ods`` file per (service, year), each holding that
service's sheet with a title preamble, a header row, group names written
only on the first row of each merged-cell block, comma-decimal values,
``%`` suffixes on rate variables, blank separator rows, repeated rows and
about 5 % invalid cells (``-``, empty, unparseable text).  A separate
delta file adds one new month for one service.

``Expected`` is computed from the generated grids with the reference's
rules (trim/collapse, recode with pass-through, locale parse, hash
dedup), never by running the package, so a wrong ingest cannot agree
with it by construction.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field
from decimal import Decimal

from ida_dataengineerproject_spark.operators.cleaning import (
    GROUP_MAPPING,
    VARIABLE_MAPPING,
)
from ida_dataengineerproject_spark.sources.converters import SERVICE_SHEETS
from ida_dataengineerproject_spark.sources.ods import write_minimal_ods

# raw group names as they appear in the sheets: every mapped spelling plus
# two that the recode passes through unchanged
GROUP_NAMES = sorted(GROUP_MAPPING) + ["BRISANET", "Desktop  Sigmanet"]
VARIABLE_NAMES = sorted(VARIABLE_MAPPING) + ["Quantidade de Ouvidoria"]
INVALID_CELLS = ["-", None, "n/d"]
FIRST_YEAR = 2017


@dataclass(frozen=True)
class CorpusSpec:
    years: int = 3  # files per service; 3 services
    rows: int = 800  # body rows per sheet
    delta_rows: int = 400  # rows of the one-month delta sheet
    invalid_share: float = 0.05


@dataclass
class Expected:
    source_cells: int = 0  # body cells of the corpus (valid or not)
    long_rows: int = 0  # rows read_ods_long emits for the corpus
    records: int = 0  # valid records before hash dedup
    dims: dict[str, int] = field(default_factory=dict)
    fact_rows: int = 0
    delta_new_rows: int = 0
    # exact sum of fact valor (decimal(15,6)) per (servico, 'yyyy-MM')
    sums: dict[tuple[str, str], Decimal] = field(default_factory=dict)


def _clean(s: str) -> str:
    """operators.cleaning.clean_text: trim spaces, collapse whitespace."""
    return re.sub(r"\s+", " ", s.strip(" "))


def _parse(raw: str | None) -> float | None:
    """functions.numparse.parse_locale_number for the cell forms the
    generator writes (plain or comma decimals, optional ``%``)."""
    if raw is None or raw.strip(" ") in ("-", "", "nan", "NaN"):
        return None
    cleaned = raw.strip(" ").replace(",", ".").replace("%", "").strip(" ")
    if not re.fullmatch(r"[+-]?(\d+(\.\d*)?|\.\d+)", cleaned):
        return None
    return float(cleaned)


def _grid(rng: random.Random, months: list[str], n_rows: int, invalid: float):
    grid: list[list] = [
        ["Indicador de Desempenho no Atendimento - dados mensais", None],
        [None],
        ["GRUPO ECONOMICO", "VARIAVEL", *months],
    ]
    body: list[list] = []
    left = 0
    while len(body) < n_rows:
        # the parser strips trailing blank rows, so the last row is never one
        if body and len(body) < n_rows - 1 and rng.random() < 0.01:
            body.append([])  # blank separator row
            continue
        if body and body[-1] and rng.random() < 0.02:
            body.append(list(body[-1]))  # repeated row: dedup fodder
            continue
        if left == 0:
            group: str | None = rng.choice(GROUP_NAMES)
            if rng.random() < 0.1:
                group = f" {group} "
            left = rng.randint(3, 12)
        else:
            group = None  # merged cell: the group name is on the block's top row
        left -= 1
        var = rng.choice(VARIABLE_NAMES)
        cells = []
        for _ in months:
            if rng.random() < invalid:
                cells.append(rng.choice(INVALID_CELLS))
                continue
            cents = rng.randrange(0, 10_000_000)
            cell = f"{cents // 100},{cents % 100:02d}"
            if var.startswith("Taxa") and rng.random() < 0.5:
                cell += "%"
            cells.append(cell)
        body.append([group, var, *cells])
    return grid + body


def _records(grid: list[list], servico: str) -> list[tuple]:
    """The fact records one sheet yields: ffill the group, drop rows with
    a blank group or variable, drop invalid cells, recode, parse."""
    months = grid[2][2:]
    out = []
    group = None
    for row in grid[3:]:
        row = row + [None] * (2 + len(months) - len(row))
        if row[0] is not None:
            group = row[0]
        var = row[1]
        if group is None or var is None or not var.strip(" "):
            continue
        g = _clean(group)
        v = _clean(var)
        g = GROUP_MAPPING.get(g, g)
        v = VARIABLE_MAPPING.get(v, v)
        for mes, raw in zip(months, row[2:]):
            valor = _parse(raw)
            if valor is not None:
                out.append((mes, g, servico, v, valor))
    return out


def _months(year: int) -> list[str]:
    return [f"{year}-{m:02d}" for m in range(1, 13)]


def write_corpus(root: str, seed: int, spec: CorpusSpec) -> Expected:
    """Write ``root/base/*.ods`` (the corpus) and ``root/delta/*.ods``
    (one new month of SMP) and return the expected ingest results."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(root, "base"), exist_ok=True)
    os.makedirs(os.path.join(root, "delta"), exist_ok=True)
    exp = Expected()
    records: list[tuple] = []
    for servico, sheet in SERVICE_SHEETS.items():
        for y in range(FIRST_YEAR, FIRST_YEAR + spec.years):
            grid = _grid(rng, _months(y), spec.rows, spec.invalid_share)
            write_minimal_ods(
                os.path.join(root, "base", f"{servico.lower()}_{y}.ods"),
                {sheet: grid},
            )
            body = grid[3:]
            exp.source_cells += sum(12 for r in body if r)
            exp.long_rows += 12 * len(body)
            records += _records(grid, servico)
    delta_month = f"{FIRST_YEAR + spec.years}-01"
    delta = _grid(rng, [delta_month], spec.delta_rows, spec.invalid_share)
    write_minimal_ods(
        os.path.join(root, "delta", f"smp_{delta_month}.ods"),
        {SERVICE_SHEETS["SMP"]: delta},
    )

    exp.records = len(records)
    facts = set(records)
    exp.fact_rows = len(facts)
    exp.dims = {
        "dim_tempo": len({r[0] for r in facts}),
        "dim_grupo_economico": len({r[1] for r in facts}),
        "dim_servico": len({r[2] for r in facts}),
        "dim_variavel": len({r[3] for r in facts}),
    }
    for mes, _g, servico, _v, valor in facts:
        key = (servico, mes)
        exp.sums[key] = exp.sums.get(key, Decimal(0)) + Decimal(repr(valor))
    exp.delta_new_rows = len(set(_records(delta, "SMP")) - facts)
    return exp
