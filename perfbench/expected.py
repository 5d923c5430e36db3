"""DuckDB oracle answers for the ``resident_serve`` ops, kept with the
benchmark because the gate and dedup oracles take minutes.

Answers are stored per dataset fingerprint (SHA-256 of the generated
parquet bytes) in ``expected_resident.json``.  Regenerate after a
change to ``gen_corpus`` or to an op's oracle:

    python3 perfbench/expected.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PATH = os.path.join(HERE, "expected_resident.json")


def dataset_id(dir_: str, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(dir_, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def load() -> dict:
    with open(PATH) as fh:
        return json.load(fh)


def oracle_connection(dir_: str, tables, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in tables:
        path = os.path.join(dir_, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_answer(con, sql: str) -> dict:
    from check import fingerprint

    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return fingerprint(cols, rel.fetchall())


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.dirname(HERE))
    import gen_corpus
    from wl_resident import OPS

    from ffiec_pq_spark import catalog

    oracles = catalog.oracles()
    out: dict = {}
    for spec in (gen_corpus.BASE, gen_corpus.REWRITE):
        with tempfile.TemporaryDirectory() as d:
            gen_corpus.write(d, **spec)
            con = oracle_connection(d, gen_corpus.TABLES, os.cpu_count() or 4)
            answers = {}
            for op in OPS:
                t0 = time.perf_counter()
                answers[op] = oracle_answer(con, oracles[op])
                print(op, answers[op]["rows"],
                      f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
            out[dataset_id(d, gen_corpus.TABLES)] = {"spec": spec, "answers": answers}
            con.close()
    with open(PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
