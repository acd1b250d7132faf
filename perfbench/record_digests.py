#!/usr/bin/env python3
"""Record the expected output digest of every webtext_ops query.

Each query runs in Spark over two different seeded row permutations of
``perfbench/data/documents.parquet`` and its DuckDB oracle
(``__spark_entry__.oracle_sql()``) runs over the same table; the digest
is written to ``perfbench/expected_digests.json`` only when all three
agree. Run it again only when the data file or a query list changes:

    python3 perfbench/record_digests.py
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import CORES, WORK, check_program, prepare_env, reset_dir, start_session, stop_jvm  # noqa: E402
from workloads import (EXPECTED_DIGESTS, WEBTEXT_QUERIES, frame_digest,  # noqa: E402
                       webtext_input)


def main() -> int:
    check_program()
    work = reset_dir(WORK / "record-digests")
    prepare_env(work)
    import duckdb

    import __spark_entry__ as entry

    dirs = {}
    for seed in (0, 1):
        dirs[seed] = work / f"seed{seed}"
        webtext_input(seed, dirs[seed])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{dirs[0] / 'documents.parquet'}'")
    spark = start_session(CORES, work)
    out, ok = {}, True
    try:
        for q in WEBTEXT_QUERIES:
            got = {s: frame_digest(entry.queries()[q](spark, str(d))
                                   .toPandas()) for s, d in dirs.items()}
            oracle = frame_digest(con.sql(entry.oracle_sql()[q]).df())
            agree = got[0] == got[1] == oracle
            ok &= agree
            print(f"{q}: spark {got[0][:12]} / {got[1][:12]} "
                  f"oracle {oracle[:12]} {'ok' if agree else 'MISMATCH'}")
            out[q] = oracle
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("not recorded: Spark and the oracle disagree", file=sys.stderr)
        return 1
    EXPECTED_DIGESTS.write_text(json.dumps(out, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
