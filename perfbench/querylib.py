"""The query-library key set, its input tables and the digests that check it.

The keys read a committed copy of the seed-42 sf0.01 test tables under
``data/sf0.01``. At that scale two keys' cost is dominated by building
the DataFrame and four by executing it. Medians of a traced run
(``queries.build_s.<key>``, ``operators.exec_s.<key>``; local[3] on a
4-CPU VM, warm session):

==================== ======= =======
key                  build s exec s
==================== ======= =======
q_shortest_path        1.28    0.08
q_kmeans               0.82    0.08
q_window_cumsum        0.04    0.16
q_rolling_median       0.05    0.25
q_mahalanobis          0.11    0.48
q_groupby_agg          0.07    0.30
==================== ======= =======

``expected_digests.json`` holds one digest per key, computed from the
key's DuckDB ``oracle_sql`` over the same tables. Regenerate it with::

    python3 perfbench/querylib.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS_PATH = os.path.join(HERE, "expected_digests.json")

BUILD_HEAVY = ["q_shortest_path", "q_kmeans"]
EXEC_HEAVY = ["q_window_cumsum", "q_rolling_median", "q_mahalanobis", "q_groupby_agg"]
KEYS = BUILD_HEAVY + EXEC_HEAVY


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame, canonicalized the way the
    repository's oracle-parity tests compare frames (exact values)."""
    from fortune_500_financial_insights_pipeline_spark.testing import _normalize

    rows = _normalize(pdf)
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    h.update(repr(rows).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def load_expected() -> dict[str, str]:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def oracle_digests(sf_dir: str = DATA_DIR) -> dict[str, str]:
    from fortune_500_financial_insights_pipeline_spark.oracles import ORACLES
    from fortune_500_financial_insights_pipeline_spark.testing import run_oracle

    return {k: digest(run_oracle(ORACLES[k], sf_dir)) for k in KEYS}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    with open(DIGESTS_PATH, "w") as f:
        json.dump(oracle_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {DIGESTS_PATH}")
