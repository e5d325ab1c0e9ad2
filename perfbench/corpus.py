"""Seeded corpus for the operator-pack queries a traced run measures.

Writes `events.parquet` and `documents.parquet` with the fixture schema
(FIXTURES.md: events and documents) into one directory, so the declared
queries read it as they read a fixture scale-factor directory. The same
seed always gives the same tables. They are written with DuckDB, which
also runs the queries' oracles over them (`oracle_rows`).
"""

import csv
import os
import random

import duckdb

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# the fixture vocabulary, including the search terms of the search ops
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window line sort order data column join small customer query "
         "big stream group filter vector").split()
T0_US = 1_704_067_200 * 1_000_000      # 2024-01-01, as the fixture
SPAN_US = 30 * 86_400 * 1_000_000      # one month of events
DUP_SHARE = 0.1                        # documents that repeat an earlier one


def _events(rng, n):
    for i in range(n):
        yield (i, T0_US + rng.randrange(SPAN_US), rng.randrange(100),
               rng.choice(EVENT_TYPES), rng.randrange(1, 50_000) / 100,
               f'{{"k": {rng.randrange(100)}}}')


def _documents(rng, n):
    texts = []
    for i in range(n):
        if texts and rng.random() < DUP_SHARE:
            # an exact duplicate up to case and runs of spaces
            words = rng.choice(texts).split(" ")
            text = "  ".join(w.upper() if rng.random() < 0.3 else w for w in words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(20, 80)))
            texts.append(text)
        yield (i, text, rng.choice(("en", "de", "fr", "es", "it")), f"src{i % 20}", len(text))


def write(seed: int, directory: str, n_events: int = 20_000, n_docs: int = 2_000) -> None:
    rng = random.Random(seed)
    os.makedirs(directory, exist_ok=True)
    con = duckdb.connect()
    for name, rows, cols in (
            ("events", _events(rng, n_events),
             "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type VARCHAR, "
             "value DOUBLE, props VARCHAR"),
            ("documents", _documents(rng, n_docs),
             "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT")):
        tmp = os.path.join(directory, name + ".csv")
        with open(tmp, "w", newline="") as f:
            csv.writer(f).writerows(rows)
        types = ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'" for c in cols.split(", "))
        rel = f"read_csv('{tmp}', header=false, quote='\"', escape='\"', columns={{{types}}})"
        select = ("SELECT event_id, make_timestamp(ts_us) AS ts, user_id, "
                  "event_type, value, props" if name == "events" else "SELECT *")
        con.execute(f"COPY ({select} FROM {rel}) TO "
                    f"'{os.path.join(directory, name + '.parquet')}' (FORMAT PARQUET)")
        os.remove(tmp)
    con.close()


def oracle_rows(directory: str, sql: str):
    """(column names, rows) of an oracle query over the corpus tables."""
    con = duckdb.connect()
    try:
        for name in ("events", "documents"):
            path = os.path.join(directory, name + ".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()
