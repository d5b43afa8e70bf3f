#!/usr/bin/env python
"""Output digest of the BAG path on perfbench's generated delivery.

Generates the seeded zipped delivery (``perfbench/inputs.py``), imports it
with perfbench's settings, builds the 5 CSV exports and runs the validation
battery, then prints ONE JSON line: for every imported table, export and
the validation report, its row count, its schema and the sha1 of its
sorted rows. Two checkouts that print the same line for a seed produced
the same outputs, so a change to the BAG path is checked by running this
script in both and comparing the lines.

Usage:
  python scripts/bag_digest.py SEED [N]     # N addresses, default 20000
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile


def digest(df) -> dict:
    """Row count, schema and sha1 of the sorted row reprs of ``df``."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return {
        "rows": len(rows),
        "schema": df.schema.simpleString(),
        "sha1": hashlib.sha1("\n".join(rows).encode()).hexdigest(),
    }


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    seed = int(argv[0])
    n = int(argv[1]) if len(argv) > 1 else 20_000

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bag_parser_spark.config import EngineConfig
    from bag_parser_spark.plans import export as E
    from bag_parser_spark.plans.bag_job import import_bag, run_bag_validation
    from bag_parser_spark.session import get_spark
    from perfbench import inputs

    work = tempfile.mkdtemp(prefix="bag_digest_")
    spark = get_spark(app_name="bag-digest")
    try:
        delivery = os.path.join(work, "delivery")
        inputs.generate_bag_delivery(delivery, n, seed)
        cfg = EngineConfig(active_only=True, snapshot_date=inputs.SNAPSHOT,
                           parse_geometries=False)
        t = import_bag(spark, delivery, os.path.join(delivery, "gemeenten.csv"),
                       out_dir=os.path.join(work, "tables"), cfg=cfg)
        exports = {
            "postcode": E.export_adressen_postcode(
                t["adressen"], t["openbare_ruimten"], t["woonplaatsen"]),
            "all": E.export_adressen_all(
                t["adressen"], t["openbare_ruimten"], t["gemeenten"],
                t["woonplaatsen"], t["provincies"]),
            **{f"p{d}": E.export_postcode_stats(t["adressen"], t["woonplaatsen"], d)
               for d in (4, 5, 6)},
        }
        report, ok = run_bag_validation(t, cfg)
        out = {
            "seed": seed,
            "n": n,
            "tables": {name: digest(df) for name, df in sorted(t.items())},
            "exports": {name: digest(df) for name, df in exports.items()},
            "validate": {**digest(report), "passed": ok},
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
