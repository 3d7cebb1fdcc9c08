"""Re-pin graph_serve's expected query fingerprints.

    python3 perfbench/pin.py OUT_DIR
    python3 tools/compare.py OUT_DIR/data OUT_DIR/out  # must print ALL OK
    cp OUT_DIR/out/fingerprints.json perfbench/fingerprints.json

Writes graph_serve's fixed citation graph to OUT_DIR/data, and each served
query's result (parquet), its DuckDB oracle SQL and its fingerprint to
OUT_DIR/out.  Pin only outputs that the oracle comparison accepts.
"""
import os
import sys

import run

out = os.path.abspath(sys.argv[1])
run.build()
data = os.path.join(out, "data")
for mode, kw in (("tables", dict(data=data, **run.SERVE)),
                 ("pin", dict(data=data, out=os.path.join(out, "out")))):
    rec, _ = run.jvm(mode, out, timeout=600, **kw)
    if rec is None:
        sys.exit(f"pin: the {mode} JVM failed")
print(f"wrote {out}/out/fingerprints.json")
