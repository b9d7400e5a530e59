"""Seeded migration corpus for the ``migrate`` workload.

:func:`generate` is a pure function of the seed: the same seed gives the
same migrations, byte for byte. Each migration carries 1-3 statements
drawn from templates that each trigger one of the nine analyzer rules
(or none: plain, ``CONCURRENTLY`` and additive statements), so the rule
names every migration should raise are known by construction and the
analyzer's findings can be checked against them.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter
from dataclasses import dataclass

# (rule the statement triggers at PostgreSQL 14 or None, up, down).
# {t} is a table name and {c} a column name, both drawn per statement.
TEMPLATES: list[tuple[str | None, str, str]] = [
    ("create-index-not-concurrent",
     "CREATE INDEX idx_{t}_{c} ON {t} ({c});",
     "DROP INDEX IF EXISTS idx_{t}_{c};"),
    ("add-column-volatile-default",
     "ALTER TABLE {t} ADD COLUMN {c}_at TIMESTAMPTZ DEFAULT now();",
     "ALTER TABLE {t} DROP COLUMN IF EXISTS {c}_at;"),
    ("add-constraint-without-not-valid",
     "ALTER TABLE {t} ADD CONSTRAINT chk_{t}_{c} CHECK ({c} > 0);",
     "ALTER TABLE {t} DROP CONSTRAINT IF EXISTS chk_{t}_{c};"),
    ("alter-column-type",
     "ALTER TABLE {t} ALTER COLUMN {c} TYPE BIGINT;",
     "ALTER TABLE {t} ALTER COLUMN {c} TYPE INTEGER;"),
    ("set-not-null",
     "ALTER TABLE {t} ALTER COLUMN {c} SET NOT NULL;",
     "ALTER TABLE {t} ALTER COLUMN {c} DROP NOT NULL;"),
    ("drop-table",
     "DROP TABLE {t}_{c}_archive;",
     "CREATE TABLE {t}_{c}_archive (id BIGINT PRIMARY KEY);"),
    ("vacuum-full",
     "VACUUM FULL {t};",
     "ANALYZE {t};"),
    ("lock-table",
     "LOCK TABLE {t} IN ACCESS EXCLUSIVE MODE;",
     "ANALYZE {t};"),
    ("rename",
     "ALTER TABLE {t} RENAME COLUMN {c} TO {c}_v2;",
     "ALTER TABLE {t} RENAME COLUMN {c}_v2 TO {c};"),
    (None,
     "CREATE TABLE {t}_{c} (id BIGSERIAL PRIMARY KEY, {c} TEXT NOT NULL);",
     "DROP TABLE IF EXISTS {t}_{c};"),
    (None,
     "ALTER TABLE {t} ADD COLUMN {c}_note TEXT;",
     "ALTER TABLE {t} DROP COLUMN IF EXISTS {c}_note;"),
    (None,
     "CREATE INDEX CONCURRENTLY idx_{t}_{c}_cc ON {t} ({c});",
     "DROP INDEX CONCURRENTLY IF EXISTS idx_{t}_{c}_cc;"),
]

TABLES = ["users", "orders", "accounts", "events", "invoices", "sessions"]
COLUMNS = ["email", "status", "amount", "region", "score", "owner_id"]


@dataclass(frozen=True)
class Migration:
    version: str
    name: str
    up_sql: str
    down_sql: str
    rules: tuple[str, ...]  # one entry per finding the up-SQL should raise
    checksum: str  # SHA-256 of the up-SQL as the loader trims it

    @property
    def up_file(self) -> str:
        return f"V{self.version}_{self.name}.up.sql"

    @property
    def down_file(self) -> str:
        return f"V{self.version}_{self.name}.down.sql"


def generate(seed: int, n: int) -> list[Migration]:
    """``n`` migrations in ascending version order. The first len(TEMPLATES)
    statements walk every template once, in a seeded order, and a corpus
    of at least four migrations gets enough statements for that walk, so
    every rule is covered."""
    rng = random.Random(seed)
    walk = list(range(len(TEMPLATES)))
    rng.shuffle(walk)
    counts = [rng.randint(1, 3) for _ in range(n)]
    while sum(counts) < len(TEMPLATES) and min(counts) < 3:
        counts[rng.choice([i for i, c in enumerate(counts) if c < 3])] += 1
    out = []
    for i in range(n):
        ups, downs, rules = [], [], []
        for j in range(counts[i]):
            k = walk.pop() if walk else rng.randrange(len(TEMPLATES))
            rule, up, down = TEMPLATES[k]
            # the statement index keeps names unique within a migration
            t, c = rng.choice(TABLES), f"{rng.choice(COLUMNS)}{j}"
            ups.append(up.format(t=t, c=c))
            downs.append(down.format(t=t, c=c))
            if rule:
                rules.append(rule)
        up_sql = "\n".join(ups)
        out.append(Migration(
            version=f"{i + 1:03d}",
            name=f"step_{i + 1:03d}",
            up_sql=up_sql,
            down_sql="\n".join(reversed(downs)),
            rules=tuple(sorted(rules)),
            checksum=hashlib.sha256(up_sql.encode()).hexdigest(),
        ))
    return out


def write(migrations: list[Migration], directory: str) -> None:
    """One ``.up.sql`` and one ``.down.sql`` file per migration; a trailing
    newline the loader trims away, as hand-written files have."""
    os.makedirs(directory, exist_ok=True)
    for m in migrations:
        for fname, body in ((m.up_file, m.up_sql), (m.down_file, m.down_sql)):
            with open(os.path.join(directory, fname), "w") as fh:
                fh.write(body + "\n")


def expected_findings(migrations: list[Migration]) -> Counter:
    """Multiset of (version, rule) the analyzer should report."""
    return Counter((m.version, r) for m in migrations for r in m.rules)
