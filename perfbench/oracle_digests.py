#!/usr/bin/env python3
"""Recompute perfbench/digests.json: the canonical row digest of each checked
gate's DuckDB oracle over the benchmark corpus (perfbench/data/sf0.01).

Usage (from the repository root; needs the duckdb Python package):
  python3 perfbench/oracle_digests.py            write perfbench/digests.json
  python3 perfbench/oracle_digests.py --vectors  print digests of the fixed
                                                 vectors SelfTest.scala pins

The canonical form matches Digest.scala: columns sorted by name, cells
type-tagged (doubles by IEEE bits), rows sorted by their UTF-8 bytes, SHA-256.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, float):
        bits = 0x7ff8000000000000 if math.isnan(v) else struct.unpack(">Q", struct.pack(">d", v))[0]
        return "d:%x" % bits
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, decimal.Decimal):
        return "n:" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, str):
        return "s:" + (v.replace("\\", "\\\\").replace("\t", "\\t")
                       .replace("\n", "\\n").replace("\r", "\\r"))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D:%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    raise TypeError(f"digest: unsupported cell type {type(v).__name__}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(cell(r[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256(("cols:" + ",".join(sorted(columns)) + "\n").encode("utf-8"))
    for line in lines:
        h.update(line + b"\n")
    return h.hexdigest()


VECTORS = [
    (["b", "a"], [[None, 1.5], [float("nan"), -0.0]]),
    (["x"], [[0.0], [-0.0]]),
    (["s", "n"], [["tab\there", decimal.Decimal("1.50")], ["", decimal.Decimal("0.00")]]),
]


def main():
    if "--vectors" in sys.argv:
        for cols, rows in VECTORS:
            print(digest(cols, rows))
        return 0
    import duckdb
    classes = build.build()
    oracles_file = os.path.join(build.build_dir(), "oracles.json")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    subprocess.run(["java", "-cp", cp, "graft.perfbench.DumpOracles", oracles_file], check=True)
    with open(oracles_file) as f:
        oracles = json.load(f)
    data = os.path.join(build.ROOT, "perfbench", "data", "sf0.01")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = digest(cols, cur.fetchall())
    with open(os.path.join(build.ROOT, "perfbench", "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} oracle digests written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
