#!/usr/bin/env python3
"""Merge a subset Bench record (SPARK_GRAFT_ONLY run) into
bench_full.json — used when a handful of late gates need appending to
the canonical full-suite record without re-running the whole suite.
Provenance stays auditable: the merged queries keep their own
iters_raw, jobs and stream_ms, and the headline value is recomputed as
the sum of medians.

Usage: bench_merge.py <full_record.json> <subset_record.json>
"""
import json
import sys


def main(full_path: str, subset_path: str) -> int:
    full = json.load(open(full_path))
    sub = json.load(open(subset_path))
    for section in ("queries", "spread", "iters_raw", "jobs", "stream_ms"):
        full.setdefault(section, {}).update(sub.get(section, {}))
    full.setdefault("errors", {}).update(sub.get("errors", {}))
    full["n_errors"] = len(full["errors"])
    full["value"] = sum(full["queries"].values())
    json.dump(full, open(full_path, "w"))
    print(f"merged {len(sub.get('queries', {}))} queries -> "
          f"{len(full['queries'])} total, value={full['value']:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
