#!/usr/bin/env python3
"""Build the expected output fingerprints of every workload key, once.

Usage, from the repository root:

    python3 perfbench/make_fingerprints.py [sf0.01 sf0.001]

For each table set it runs each workload's warm pass in fingerprint mode
(run.py --fingerprint-out), which writes the engine's fingerprint of every
key and the key's oracle SQL. For keys with oracle SQL it runs that SQL in
DuckDB on the same tables and fingerprints the result the same way; the
DuckDB fingerprint becomes the expected one, so a key where the engine
disagrees with its oracle fails in every run until the engine is fixed.
Keys with no oracle SQL are pinned to the engine's fingerprint. The result
is fingerprints/<set>.tsv: key, fingerprint, and where it came from.

`canon` and `fingerprint` mirror Fingerprint.scala; the two must change
together.
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SEP = "\x1f"
DIGITS = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = dt.datetime(1970, 1, 1)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def num(x):
    if x == 0:
        return "0"
    sign, digits, exp = DIGITS.plus(x).normalize(DIGITS).as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"{unscaled}e{exp}"


def canon(v, t):
    """Canonical text of value v of pyarrow type t."""
    if v is None:
        return "N"
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_floating(t):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return num(decimal.Decimal(v))
    if pa.types.is_decimal(t):
        return num(v)
    if pa.types.is_timestamp(t):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // dt.timedelta(microseconds=1))
    if pa.types.is_date(t):
        return str((v - EPOCH.date()).days)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return v.hex()
    if pa.types.is_map(t):
        return "<" + ",".join(sorted(
            canon(k, t.key_type) + "=" + canon(x, t.item_type) for k, x in v)) + ">"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "[" + ",".join(canon(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        return "{" + ",".join(canon(v[t.field(i).name], t.field(i).type)
                              for i in range(t.num_fields)) + "}"
    return str(v)


def hash64(s):
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def fingerprint(table):
    names = table.column_names
    order = sorted(range(len(names)), key=lambda i: (names[i], i))
    cols = [(table.column(i).to_pylist(), table.schema.field(i).type) for i in order]
    total = 0
    for r in range(table.num_rows):
        total += hash64(SEP.join(canon(c[r], t) for c, t in cols))
    header = hash64(SEP.join(names[i] for i in order))
    return f"{table.num_rows}:{total % 2**64:016x}:{header:016x}"


def build(data):
    tables = os.path.join(HERE, "data", data)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    work = os.path.join(HERE, ".work", "fingerprints")
    os.makedirs(work, exist_ok=True)
    rows, bad = [], 0
    for w in sorted(WORKLOADS):
        out = os.path.join(work, f"{data}-{w}.tsv")
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", w, "--seed", "0", "--seconds", "1",
                        "--trace", "0", "--data", data, "--fingerprint-out", out],
                       check=True, cwd=ROOT)
        with open(out) as f:
            spark = dict(l.rstrip("\n").split("\t")[:2] for l in f if l.strip())
        with open(out + ".oracle.json") as f:
            oracle = json.load(f)
        with open(os.path.join(HERE, "workloads", w + ".txt")) as f:
            keys = [l.strip() for l in f if l.strip()]
        for k in keys:
            got = spark.get(k, "error")
            if k not in oracle:
                rows.append((k, got, "pinned"))
                continue
            want = fingerprint(con.execute(oracle[k]).arrow())
            if want != got:
                bad += 1
                print(f"{data} {k}: engine {got} != oracle {want}", file=sys.stderr)
            rows.append((k, want, "oracle"))
    os.makedirs(os.path.join(HERE, "fingerprints"), exist_ok=True)
    with open(os.path.join(HERE, "fingerprints", data + ".tsv"), "w") as f:
        f.write("# key\tfingerprint (rows:rowsum:columns)\tsource\n")
        for r in sorted(rows):
            f.write("\t".join(r) + "\n")
    print(f"{data}: {len(rows)} keys, {sum(r[2] == 'oracle' for r in rows)} "
          f"checked against DuckDB, {bad} disagree")
    return bad


def main():
    sets = sys.argv[1:] or ["sf0.01", "sf0.001"]
    sys.exit(1 if sum(build(d) for d in sets) else 0)


if __name__ == "__main__":
    main()
