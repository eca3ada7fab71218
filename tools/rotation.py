"""Record a round's correctness PASS rows in the check-rotation manifest.

Usage:  python tools/rotation.py record CORRECTNESS_rNN.json

Run it on the tree the round's correctness gate checked, when its
file lands. Each PASS row's entry in
``nyc_traffic_insight_spark/queries/rotation.json`` becomes
``[NN, current fingerprint]``; entries for queries that are no longer
registered drop out. ``load_all()`` then fronts every query whose code
changes after this point (``queries/rotation.py``).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_traffic_insight_spark.queries import load_all, rotation  # noqa: E402


def record(path: str) -> None:
    rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
    registry = load_all()
    with open(path) as f, open(rotation.MANIFEST) as m:
        rows, manifest = json.load(f), json.load(m)
    manifest = {n: v for n, v in manifest.items() if n in registry}
    for n, row in rows.items():
        passed = row["rows_match"] and row["schema_match"] and row["hash_match"]
        if n in registry and passed and row["err"] is None:
            manifest[n] = [rnd, rotation.CURRENT[n]]
    lines = [f" {json.dumps(n)}: {json.dumps(manifest[n])}" for n in sorted(manifest)]
    with open(rotation.MANIFEST, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    if sys.argv[1:2] != ["record"] or len(sys.argv) != 3:
        sys.exit(__doc__)
    record(sys.argv[2])
