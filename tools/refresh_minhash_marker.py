#!/usr/bin/env python
"""Re-measure MinHash banding recall on the current fixtures and
rewrite pudatalake_spark/llmops/minhash_recall.json.

q_dedup_near_minhash's oracle (the exact pair list) is only valid
while banding recall is 1.0 on the exact fixture bytes; the marker
records that measurement plus an md5 fingerprint of each fixture's
documents.parquet. After a testdata regeneration the fingerprints
mismatch and the key self-demotes to rows-only at import time - run
this tool to re-measure: if recall is 1.0 again the oracle re-arms,
otherwise the marker records the sub-1.0 recall and the demotion
(correctly) sticks.

    python tools/refresh_minhash_marker.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> None:
    sf_dirs = sys.argv[1:] or DEFAULT_SFS

    from pudatalake_spark import registry
    from pudatalake_spark.llmops import dedup
    from pudatalake_spark.loaders import spread, table
    from pudatalake_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="minhash-recall")
    spark.sparkContext.setLogLevel("ERROR")

    recalls: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    for sf_dir in sf_dirs:
        fp = dedup._doc_fingerprint(sf_dir)
        if fp is None:
            print(f"  {sf_dir}: no documents.parquet, skipped")
            continue
        d = spread(table(spark, sf_dir, "documents"), "doc_id")
        r = dedup.measure_banding_recall(d)
        registry.release()
        recalls[sf_dir] = r
        fingerprints[sf_dir] = fp
        print(f"  {sf_dir}: banding recall {r:.6f}")

    if not recalls:
        sys.exit("no fixtures measured - nothing to record")
    overall = min(recalls.values())
    marker = {
        "recall": overall,
        "per_sf": {k: round(v, 6) for k, v in recalls.items()},
        "fingerprints": fingerprints,
        "protocol": (
            "recall = |minhash_verified_pairs| / |near_jaccard_pairs| "
            "(subset by construction); oracle armed iff recall == 1.0 "
            "and every fingerprint still matches"
        ),
    }
    with open(dedup._MARKER_PATH, "w") as f:
        json.dump(marker, f, indent=1, sort_keys=True)
    print(f"wrote {dedup._MARKER_PATH} (recall={overall})")
    if overall < 1.0:
        print("recall < 1.0: q_dedup_near_minhash stays DEMOTED to rows-only")


if __name__ == "__main__":
    main()
