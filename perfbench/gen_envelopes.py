"""Seeded, pure-Python generator of `instance|json` envelope files.

Each line is one Debezium-shaped change event from one of three
source instances (`src-0`..`src-2`) on one of eight tables. The op mix
is 40/30/30 delete/update/create. About 2% of the lines break one T2
guard (blank table, null `before`, missing id, `ts_ms` <= 0), and a
configurable share of lines is poison: truncated JSON that no parser
accepts. Pre-images are about 300 bytes.

Next to the lines the generator returns a manifest of what a correct
archival run must produce from them: the expected archived ids per
routing key (`<db_alias>_<table>`), the poison lines, the true count
of well-formed non-delete events, and the guard bucket counts in the
job's cascade order.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field

INSTANCES = ("src-0", "src-1", "src-2")
TABLES = (
    "t_orders",
    "t_items",
    "t_users",
    "t_payments",
    "t_refunds",
    "t_shipments",
    "t_invoices",
    "t_coupons",
)
DB_ALIAS = "demo"
GUARD_SHARE = 0.02
GUARD_KINDS = ("blank_table", "null_before", "no_id", "bad_ts")
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()
_BASE_TS_MS = 1_700_000_000_000
_STATUSES = ("NEW", "PAID", "SHIPPED", "CLOSED")


@dataclass
class Manifest:
    """What a correct run archives from a set of envelope lines."""

    expected: dict[str, list[str]] = field(default_factory=dict)
    poison: list[str] = field(default_factory=list)
    n_lines: int = 0
    n_not_delete: int = 0
    guards: Counter = field(default_factory=Counter)

    @property
    def n_archived(self) -> int:
        return sum(len(v) for v in self.expected.values())


def _pools(rng: random.Random) -> tuple[list[str], list[str]]:
    """Owner and note strings drawn once per generator call, so each
    line costs a few random draws instead of thirty."""
    owners = [" ".join(rng.choices(_WORDS, k=3)) for _ in range(64)]
    notes = [" ".join(rng.choices(_WORDS, k=28)) for _ in range(256)]
    return owners, notes


def _pre_image(rng: random.Random, pools, row_id: str | None) -> str:
    """A ~300-byte row image as JSON text; decimals are strings, as
    Debezium's decimal.handling.mode=string renders them."""
    owners, notes = pools
    head = "" if row_id is None else f'"id":"{row_id}",'
    return (
        f'{{{head}"amount":"{rng.randint(1, 999999) / 100:.2f}",'
        f'"status":"{rng.choice(_STATUSES)}","owner":"{rng.choice(owners)}",'
        f'"note":"{rng.choice(notes)}",'
        f'"updated_at":{rng.randint(1_600_000_000, 1_700_000_000)}}}'
    )


def generate(
    rng: random.Random,
    n_lines: int,
    first_id: int,
    poison_share: float,
) -> tuple[list[str], Manifest]:
    """Return `n_lines` envelope lines with ids from `first_id` up, and
    their manifest."""
    pools = _pools(rng)
    lines: list[str] = []
    m = Manifest(n_lines=n_lines)
    for i in range(n_lines):
        instance = rng.choice(INSTANCES)
        table = rng.choice(TABLES)
        row_id = str(first_id + i)
        r = rng.random()
        op = "d" if r < 0.4 else ("u" if r < 0.7 else "c")
        ts_ms = _BASE_TS_MS + (first_id + i) * 7 + rng.randint(0, 5)
        image = _pre_image(rng, pools, row_id)
        before = "null" if op == "c" else image
        after = "null" if op == "d" else image
        guard = rng.choice(GUARD_KINDS) if rng.random() < GUARD_SHARE else None
        if guard == "blank_table":
            table = rng.choice(("", "  ", "\\t"))
        elif guard == "null_before":
            before = "null"
        elif guard == "no_id":
            before = _pre_image(rng, pools, None)
        elif guard == "bad_ts":
            ts_ms = -rng.randint(0, 1000)
        text = (
            f'{{"op":"{op}","ts_ms":{ts_ms},'
            f'"source":{{"db":"{DB_ALIAS}","table":"{table}"}},'
            f'"before":{before},"after":{after}}}'
        )
        if rng.random() < poison_share:
            # Truncated mid-object: never parses.
            line = f"{instance}|{text[: rng.randint(5, len(text) - 5)]}"
            lines.append(line)
            m.poison.append(line)
            continue
        lines.append(f"{instance}|{text}")
        if op != "d":
            m.n_not_delete += 1
        elif guard is not None:
            m.guards[guard] += 1
        else:
            m.guards["archived"] += 1
            m.expected.setdefault(f"{DB_ALIAS}_{table}", []).append(row_id)
    return lines, m


def write_file(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
