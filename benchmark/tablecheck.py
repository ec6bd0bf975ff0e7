"""Compare the benchmark's generated tables with another catalog.

    python3 benchmark/tablecheck.py REFERENCE_DIR --sf 0.1 [--out PATH]

Generates the tables at `--sf` (`datagen.py`) under `.bench_run/` and
profiles both directories column by column: schema, row count, and per
column the distinct count, range, mean and spread (numbers, dates), or
distinct count, mean length and top-value share (strings). The
`documents` table also gets its word statistics and the share of
near-duplicate (" dup"-marked) texts. Prints one line per statistic
whose generated value differs from the reference by more than
`--tol` (relative), and writes the whole profile pair as JSON.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402

DAY_US = 86_400_000_000
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def column_stats(col: pa.ChunkedArray) -> dict:
    ty = col.type
    if pa.types.is_timestamp(ty):
        us = col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        return {"distinct": len(np.unique(us)), "min_us": int(us.min()), "max_us": int(us.max()),
                "midnight_share": float(np.mean(us % DAY_US == 0))}
    if pa.types.is_integer(ty) or pa.types.is_floating(ty):
        a = col.to_numpy().astype(np.float64)
        return {"distinct": len(np.unique(a)), "min": float(a.min()), "max": float(a.max()),
                "mean": float(a.mean()), "std": float(a.std())}
    if pa.types.is_string(ty) or pa.types.is_large_string(ty):
        vals = col.to_pylist()
        counts = collections.Counter(vals)
        return {"distinct": len(counts), "mean_len": float(np.mean([len(v) for v in vals])),
                "top_share": counts.most_common(1)[0][1] / len(vals)}
    if pa.types.is_list(ty):
        m = np.array(col.to_pylist(), dtype=np.float64)
        return {"dim": m.shape[1], "mean_norm": float(np.linalg.norm(m, axis=1).mean()),
                "mean": float(m.mean()), "std": float(m.std())}
    return {}


def text_stats(texts: list[str]) -> dict:
    words = [t.split() for t in texts]
    n = np.array([len(w) for w in words])
    return {"words_min": int(n.min()), "words_mean": float(n.mean()), "words_max": int(n.max()),
            "vocab": len({w for ws in words for w in ws}),
            "dup_marked_share": float(np.mean([t.endswith(" dup") for t in texts])),
            "exact_dup_share": 1 - len(set(texts)) / len(texts)}


def profile(sf_dir: str) -> dict:
    out = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        out[name] = {
            "rows": t.num_rows,
            "schema": [f"{f.name}:{f.type}" for f in t.schema],
            "columns": {c: column_stats(t[c]) for c in t.column_names},
        }
        if name == "documents":
            out[name]["text"] = text_stats(t["text"].to_pylist())
    return out


def differences(ref: dict, gen: dict, tol: float) -> list[str]:
    """Statistics where `gen` is off `ref` by more than `tol` (relative
    to the reference, or absolute when the reference is near 0)."""
    diffs = []
    for name, r in ref.items():
        g = gen[name]
        for key in ("rows", "schema"):
            if r[key] != g[key]:
                diffs.append(f"{name}.{key}: {r[key]} != {g[key]}")
        pairs = [(f"{name}.{c}.{k}", v, g["columns"].get(c, {}).get(k))
                 for c, s in r["columns"].items() for k, v in s.items()]
        pairs += [(f"{name}.text.{k}", v, g["text"][k]) for k, v in r.get("text", {}).items()]
        for path, a, b in pairs:
            if b is None or abs(b - a) > tol * max(abs(a), 1.0):
                diffs.append(f"{path}: reference {a:.6g}, generated {b if b is None else f'{b:.6g}'}")
    return diffs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reference")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--tol", type=float, default=0.05)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    gen_dir = os.path.join(os.path.dirname(BENCH_DIR), ".bench_run", "tablecheck")
    shutil.rmtree(gen_dir, ignore_errors=True)
    try:
        datagen.generate(gen_dir, args.sf)
        ref, gen = profile(args.reference), profile(gen_dir)
    finally:
        shutil.rmtree(gen_dir, ignore_errors=True)
    diffs = differences(ref, gen, args.tol)
    for d in diffs:
        print(d)
    print(f"{len(diffs)} statistics differ by more than {args.tol:.0%}")
    if args.out:
        doc = {"sf": args.sf, "data_seed": datagen.DATA_SEED, "tol": args.tol,
               "differences": diffs, "reference": ref, "generated": gen}
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
