"""Output checks against the registry's DuckDB oracles.

Running an oracle costs far more than the Spark query it checks, so the
benchmark stores one digest per registry entry, taken over the oracle's
result on the benchmark's tables, and compares each run's Spark result
with it. Rows are normalised by the repo's oracle harness
(``tests/oracle_harness.py``), so the benchmark and the repo's correctness
tests apply one rule. Regenerate the digests after changing the tables or
an entry's semantics:

    python3 perfbench/oracle.py

The command runs every entry in Spark and in DuckDB, refuses to write
anything if the two disagree, and otherwise rewrites ``digests.json``.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DIGESTS = HERE / "digests.json"
DATA_DIR = HERE / "data" / "sf0.01"
# the hash-fixture root the registry's oracle SQL was built with
DEFAULT_FIXTURE_ROOT = "/tmp/spark_graft_fixtures/v1"


def digest(cols: list[str], rows: list[tuple]) -> str:
    from tests.oracle_harness import _norm_rows

    payload = repr(_norm_rows(list(cols), rows)).encode()
    return hashlib.sha256(payload).hexdigest()


def data_version() -> str:
    """A hash over the benchmark's table files; the digests are keyed on it."""
    h = hashlib.sha256()
    for f in sorted(DATA_DIR.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def load_digests() -> dict:
    digests = json.loads(DIGESTS.read_text())
    if digests["data_version"] != data_version():
        raise ValueError(f"{DIGESTS.name} was taken on other tables than those in "
                         f"{DATA_DIR.relative_to(HERE.parent)}: run oracle.py")
    return digests


def regenerate() -> int:
    from perfbench import workloads
    from perfbench.sandbox import Sandbox
    from tests.oracle_harness import duck_connection

    names = workloads.ANALYTICS + workloads.CORPUS_READS
    out, bad = {}, []
    with Sandbox() as box:
        spark = box.start_session()
        registry = workloads.registry()
        con = duck_connection(box.data_dir)
        for name in names:
            fn, sql = registry[name]
            df = fn(spark, box.data_dir)
            cols = list(df.columns)
            got = digest(cols, [tuple(r) for r in df.collect()])
            spark.catalog.clearCache()
            res = con.execute(sql.replace(DEFAULT_FIXTURE_ROOT, box.fixture_root))
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            want = digest(o_cols, o_rows)
            print(f"{name}: {'OK' if got == want else 'MISMATCH'} ({len(o_rows)} rows)",
                  file=sys.stderr)
            if got != want:
                bad.append(name)
            out[name] = {"digest": want, "rows": len(o_rows)}
    if bad:
        print(f"not written: Spark and DuckDB disagree on {bad}", file=sys.stderr)
        return 1
    DIGESTS.write_text(json.dumps(
        {"data_version": data_version(), "entries": out}, indent=1, sort_keys=True
    ) + "\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE.parent))
    sys.exit(regenerate())
