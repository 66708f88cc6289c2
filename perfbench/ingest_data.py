"""Seeded raw-CSV batches for the ``ingest`` workload, and the pure-Python
model of the lakehouse table they should produce.

The batches have the F-REL shape from FIXTURES.md: a relational dump with
``;`` separators, decimal-comma ``valor`` strings, accented names and about
5% CPFs with wrong check digits (plus one literal ``01234567890``). Every
value is a string, as it lands in the raw zone.

Sizes follow FIXTURES.md's F-REL fixture, which asks for ~50k rows: two
windows of 5 days x 5,000 rows, so the table holds 50k rows once both are
loaded. The repo has no measured nightly batch size to copy instead.

A pass is a fixed schedule of ``LOADS`` loads, each followed by one keyed
upsert. Most loads append a new window of days; one re-runs an earlier
window with ``overwrite``. Every upsert touches the two most recent days of
the window just loaded, and mixes newer versions of existing rows, stale
versions that must lose, repeated keys inside the batch, and new keys. An
upsert batch is 2% of a window (500 rows): a small correction batch, as
against the 25k-row load before it.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

COLUMNS = ["id", "cpf", "nome", "created_at", "updated_at", "valor", "status"]
SEP = ";"
DAYS_PER_WINDOW = 5
ROWS_PER_DAY = 5000
UPDATES_PER_LOAD = 500
BASE_DAY = date(2024, 3, 1)
# (window, dump_mode) per load: window 0 is loaded again with overwrite
SCHEDULE = [(0, "append"), (1, "append"), (0, "overwrite")]
LOADS = len(SCHEDULE)

_FIRST = ["José", "Maria", "João", "Ana", "Antônio", "Francisca", "Luís",
          "Conceição", "Sebastião", "Lúcia", "André", "Cláudia", "Inês"]
_LAST = ["Silva", "Araújo", "Gonçalves", "Conceição", "Simões", "Magalhães",
         "Assunção", "Brandão", "Falcão", "Guimarães", "Loureiro", "Cortês"]
_STATUS = ["ativo", "inativo", "pendente", "cancelado"]


def _cpf(rng: random.Random, valid: bool) -> str:
    digits = [rng.randrange(10) for _ in range(9)]
    for n in (10, 11):
        s = sum(d * w for d, w in zip(digits, range(n, 1, -1)))
        digits.append((s * 10) % 11 % 10)
    if not valid:
        digits[-1] = (digits[-1] + 1 + rng.randrange(9)) % 10
    return "".join(map(str, digits))


def _valor(rng: random.Random) -> str:
    cents = rng.randrange(1, 5_000_000)
    whole = f"{cents // 100:,}".replace(",", ".")
    return f"{whole},{cents % 100:02d}"


def _ts(day: date, seconds: int) -> str:
    return (datetime(day.year, day.month, day.day)
            + timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S")


def _window_days(window: int) -> list[date]:
    first = BASE_DAY + timedelta(days=window * DAYS_PER_WINDOW)
    return [first + timedelta(days=i) for i in range(DAYS_PER_WINDOW)]


@dataclass
class Load:
    mode: str
    path: str
    rows: int


@dataclass
class Upsert:
    path: str
    rows: int


@dataclass
class IngestInputs:
    loads: list[Load]
    upserts: list[Upsert]
    expected: dict[str, tuple[str, str, str]]  # id -> (updated_at, valor, status)

    @property
    def rows_per_pass(self) -> int:
        return sum(x.rows for x in self.loads) + sum(x.rows for x in self.upserts)


def _write(path: str, rows: list[dict[str, str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(SEP.join(COLUMNS) + "\n")
        for r in rows:
            f.write(SEP.join(r[c] for c in COLUMNS) + "\n")


def generate(seed: int, out_dir: str) -> IngestInputs:
    """Write one pass worth of batches under ``out_dir`` and return their
    paths with the table the schedule must leave behind."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_id = 1
    windows: dict[int, list[dict[str, str]]] = {}
    for window in sorted({w for w, _ in SCHEDULE}):
        rows = []
        for day in _window_days(window):
            for _ in range(ROWS_PER_DAY):
                created = rng.randrange(86_400 - 7_200)
                rows.append({
                    "id": str(next_id),
                    "cpf": _cpf(rng, valid=rng.random() >= 0.05),
                    "nome": f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
                    "created_at": _ts(day, created),
                    "updated_at": _ts(day, created + rng.randrange(3_600)),
                    "valor": _valor(rng),
                    "status": rng.choice(_STATUS),
                })
                next_id += 1
        windows[window] = rows
    windows[0][0]["cpf"] = "01234567890"

    # the model: data_particao -> id -> row, replayed op by op
    table: dict[str, dict[str, dict[str, str]]] = {}
    loads, upserts = [], []
    for i, (window, mode) in enumerate(SCHEDULE):
        batch = windows[window]
        path = os.path.join(out_dir, f"load_{i:02d}.csv")
        _write(path, batch)
        loads.append(Load(mode, path, len(batch)))
        if mode == "overwrite":
            for day in {r["created_at"][:10] for r in batch}:
                table[day] = {}
        for r in batch:
            table.setdefault(r["created_at"][:10], {})[r["id"]] = r

        updates = []
        recent = [d.isoformat() for d in _window_days(window)[-2:]]
        for _ in range(UPDATES_PER_LOAD):
            day = rng.choice(recent)
            kind = rng.random()
            if kind < 0.15:  # a key the table has never seen
                created = rng.randrange(86_400 - 7_200)
                base = {"id": str(next_id), "cpf": _cpf(rng, True),
                        "nome": f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
                        "created_at": _ts(date.fromisoformat(day), created),
                        "updated_at": _ts(date.fromisoformat(day), created)}
                next_id += 1
                shift = rng.randrange(1, 3_600)
            else:
                base = dict(rng.choice(list(table[day].values())))
                # ~10% stale versions: older than the stored row, must lose
                shift = (-rng.randrange(1, 600) if kind > 0.9
                         else rng.randrange(1, 3_600))
            u = dict(base)
            u["updated_at"] = (datetime.fromisoformat(base["updated_at"])
                               + timedelta(seconds=shift)
                               ).strftime("%Y-%m-%d %H:%M:%S")
            u["valor"] = _valor(rng)
            u["status"] = rng.choice(_STATUS)
            if any(x["id"] == u["id"] and x["updated_at"] == u["updated_at"]
                   for x in updates):
                continue  # equal (key, order) pairs would be tie-broken
            updates.append(u)
        path = os.path.join(out_dir, f"upsert_{i:02d}.csv")
        _write(path, updates)
        upserts.append(Upsert(path, len(updates)))
        for u in updates:
            cur = table[day_of(u)].get(u["id"])
            if cur is None or u["updated_at"] >= cur["updated_at"]:
                table[day_of(u)][u["id"]] = u

    expected = {r["id"]: (r["updated_at"], r["valor"], r["status"])
                for part in table.values() for r in part.values()}
    return IngestInputs(loads, upserts, expected)


def day_of(row: dict[str, str]) -> str:
    return row["created_at"][:10]
