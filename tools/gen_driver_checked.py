"""Generate tools/driver_checked.json: query name -> rounds in which the
driver's CORRECTNESS_r{N}.json contained a row for it.

The driver hash-checks only the first 50 names ``queries()`` yields, so
this file is the rotation ledger: tools/gen_order.py prefers queries with
no prior driver check when regenerating plans/query_order.py.
Regenerate after each new driver CORRECTNESS record:

    python tools/gen_driver_checked.py && python tools/gen_order.py
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Queries renamed after a driver check (the id-prefix uniqueness sweep).
# The CORRECTNESS_r{N}.json records keep the historical name; map it
# forward so certification history carries.
RENAMES = {
    "a16_schema_evolution": "a34_schema_evolution",
    "a17_csv_dim_enrich": "a35_csv_dim_enrich",
    "a18_fetch_upload_stats": "a37_fetch_upload_stats",
    "a31_orc_roundtrip": "a38_orc_roundtrip",
    "i13_replay_dedup_sliding": "i17_replay_dedup_sliding",
    "k57_monthly_latest_gapfill": "k45_monthly_latest_gapfill",
    "c61_inline_window_asof": "c71_inline_window_asof",
}


def main() -> None:
    checked: dict[str, list[int]] = {}
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name in json.loads(f.read_text()):
            checked.setdefault(RENAMES.get(name, name), []).append(rnd)
    out = REPO / "tools" / "driver_checked.json"
    out.write_text(json.dumps(checked, indent=1, sort_keys=True) + "\n")
    print(f"{len(checked)} queries ever driver-checked -> {out}")


if __name__ == "__main__":
    main()
