#!/usr/bin/env python3
"""Standing adversarial edge-corpus differential gate (VERDICT r12 #2, #5).

Round 12's three hand-built degenerate corpora found 19 real mirrored-edge
defects the generated-corpus oracle gate is structurally blind to (ANSI
divide-by-zero crashes, NULL-vs-0.0 empty-fold asymmetries, a wrong minhash
band key). This tool makes that sweep a CHECKED-IN, one-command gate so a
regenerated testdata set can never silently re-open the class:

  1. GENERATE the edge corpora as full table sets derived from a base SF
     dir — untouched tables are symlinked, mutated tables are rewritten
     with DuckDB into single parquet files (the layout tools/check.py and
     graft.Verify both read).
  2. For each corpus: run `graft.Verify <corpus> <out>` (the engine) then
     `tools/check.py <corpus> <out>` (the DuckDB oracle) — the SAME
     differential the driver grades, on distributions the driver never
     generates.
  3. Run `graft.streaming.StreamDrive` on the --base directory itself,
     so the stream faces' per-prefix parity is checked on the stock
     events too, not only on derived corpora; it is the matrix row
     `base_stream_drive` and counts toward green/total.
  4. Print the sweep matrix; exit non-zero if any corpus has any
     mismatching query, or the base StreamDrive run fails.

Corpora (the round-12 set plus the VERDICT-r12 additions):
  docs_degenerate    featureless (<3-word), empty-text, and exact-duplicate
                     docs appended at contiguous doc_ids (contiguity is a
                     documented precondition of q_heaps / q_ngram_novelty)
  events_no_purchase / _no_click / _no_view / _no_signup / _no_error
                     one corpus per absent event type (the clickless /
                     purchaseless sweeps, completed to all five types)
  single_customer    customer cut to one row; orders / lineitem sliced to
                     that customer (collapses most grouping dimensions)
  empty_orders       orders and lineitem empty (empty co-purchase graph,
                     empty TPC-H facts — the deepest ANSI-edge slice)
  empty_events       events empty (every behavioral statistic on zero
                     observations — the mirror slice of empty_orders)

Usage:
  python3 tools/edge_sweep.py                  # full sweep at sf0.001
  python3 tools/edge_sweep.py --base /root/testdata/sf0.01
  python3 tools/edge_sweep.py --only events_no_purchase,empty_orders
  python3 tools/edge_sweep.py --tz America/New_York   # TZ-shifted pass
  python3 tools/edge_sweep.py --skip-generate  # reuse generated corpora

The --tz pass exports TZ to both the sbt/JVM side and the DuckDB side;
build.sbt pins -Duser.timezone=UTC, so a mismatch here means the pin has
a hole — historically where sf0.001 TZ skews hid (VERDICT r12 #5).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

EVENT_TYPES = ["purchase", "click", "view", "signup", "error"]

# the matrix row of StreamDrive on the --base directory itself
BASE_STREAM = "base_stream_drive"


def corpus_specs(base):
    """corpus name -> {table: SQL producing the mutated table}; tables
    not listed are symlinked from the base dir."""
    specs = {
        "docs_degenerate": {
            "documents": f"""
                WITH base AS (
                  SELECT * FROM read_parquet('{base}/documents.parquet')),
                mx AS (SELECT max(doc_id) AS m FROM base),
                shorts(i, t) AS (VALUES
                  (1, 'hello'), (2, 'two words'), (3, ''), (4, 'x'),
                  (5, 'stop stop')),
                dups AS (
                  SELECT row_number() OVER (ORDER BY doc_id) AS i, text
                  FROM (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 3))
                SELECT * FROM base
                UNION ALL
                SELECT m + i, t, 'en', 'edge_short', length(t)
                FROM shorts, mx
                UNION ALL
                SELECT m + 5 + i, text, 'en', 'edge_dup', length(text)
                FROM dups, mx
            """,
        },
        "single_customer": {
            "customer": f"""
                SELECT * FROM read_parquet('{base}/customer.parquet')
                WHERE c_custkey = (
                  SELECT min(c_custkey)
                  FROM read_parquet('{base}/customer.parquet'))
            """,
            "orders": f"""
                SELECT * FROM read_parquet('{base}/orders.parquet')
                WHERE o_custkey = (
                  SELECT min(c_custkey)
                  FROM read_parquet('{base}/customer.parquet'))
            """,
            "lineitem": f"""
                SELECT * FROM read_parquet('{base}/lineitem.parquet')
                WHERE l_orderkey IN (
                  SELECT o_orderkey
                  FROM read_parquet('{base}/orders.parquet')
                  WHERE o_custkey = (
                    SELECT min(c_custkey)
                    FROM read_parquet('{base}/customer.parquet')))
            """,
        },
        "empty_orders": {
            "orders":
                f"SELECT * FROM read_parquet('{base}/orders.parquet') "
                "WHERE 1 = 0",
            "lineitem":
                f"SELECT * FROM read_parquet('{base}/lineitem.parquet') "
                "WHERE 1 = 0",
        },
        "empty_events": {
            "events":
                f"SELECT * FROM read_parquet('{base}/events.parquet') "
                "WHERE 1 = 0",
        },
    }
    for et in EVENT_TYPES:
        specs[f"events_no_{et}"] = {
            "events":
                f"SELECT * FROM read_parquet('{base}/events.parquet') "
                f"WHERE event_type <> '{et}'",
        }
    return specs


def generate(base, out_root, only):
    specs = corpus_specs(base)
    names = [n for n in specs if not only or n in only]
    for name in names:
        cdir = os.path.join(out_root, name)
        if os.path.isdir(cdir):
            shutil.rmtree(cdir)
        os.makedirs(cdir)
        for t in TABLES:
            dst = os.path.join(cdir, f"{t}.parquet")
            if t in specs[name]:
                duckdb.sql(
                    f"COPY ({specs[name][t]}) TO '{dst}' (FORMAT PARQUET)")
            else:
                os.symlink(os.path.abspath(f"{base}/{t}.parquet"), dst)
        print(f"generated {name}", flush=True)
    return names


def run_one(repo, corpus_dir, vout, env):
    if os.path.isdir(vout):
        shutil.rmtree(vout)
    t0 = time.time()
    v = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {corpus_dir} {vout}"],
        cwd=repo, env=env, capture_output=True, text=True)
    if v.returncode != 0:
        tail = (v.stdout + v.stderr)[-3000:]
        return {"ok": False, "stage": "verify", "sec": time.time() - t0,
                "tail": tail}
    # graft.Verify catches per-query exceptions and logs them — surface
    # those lines even when the run exits 0 (a crashed query shows up in
    # check.py only as "no spark output", which hides the actual error)
    crashed = [l.strip() for l in (v.stdout + v.stderr).splitlines()
               if "[verify] " in l and " failed: " in l]
    c = subprocess.run(
        [sys.executable, "tools/check.py", corpus_dir, vout],
        cwd=repo, env=env, capture_output=True, text=True)
    lines = [l for l in c.stdout.splitlines() if l.strip()]
    fails = [l for l in lines if l.startswith("FAIL")]
    summary = lines[-1] if lines else "no output"
    if c.returncode != 0:
        return {"ok": False, "stage": "check",
                "sec": time.time() - t0, "summary": summary,
                "fails": fails[:20], "crashed": crashed[:20]}
    # streaming faces (VERDICT r14 #6): replay the corpus' events table
    # through the MemoryStream drives with per-prefix batch parity
    r = run_stream(repo, corpus_dir, env)
    r.update(stage="stream" if not r["ok"] else "check",
             sec=time.time() - t0, summary=summary,
             fails=fails[:20], crashed=crashed[:20])
    return r


def run_stream(repo, corpus_dir, env):
    """`graft.streaming.StreamDrive <corpus_dir>`: ok, its JSON tail and
    its FAIL lines."""
    t0 = time.time()
    sd = subprocess.run(
        ["sbt", "-batch", f"runMain graft.streaming.StreamDrive {corpus_dir}"],
        cwd=repo, env=env, capture_output=True, text=True)
    sd_lines = [l for l in sd.stdout.splitlines()
                if "[stream_drive]" in l or l.startswith('{"metric":"stream_drive"')]
    sd_fails = [l for l in sd_lines if "FAIL" in l]
    sd_ok = sd.returncode == 0 and not sd_fails and any(
        '"ok":true' in l for l in sd_lines)
    return {"ok": sd_ok, "stage": "stream", "sec": time.time() - t0,
            "stream": next((l for l in sd_lines if l.startswith('{')),
                           "no stream_drive output"),
            "stream_fails": sd_fails[:20]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/edge_corpora")
    ap.add_argument("--only", default="",
                    help="comma-separated corpus names")
    ap.add_argument("--tz", default="",
                    help="export TZ for the whole sweep (engine + oracle)")
    ap.add_argument("--skip-generate", action="store_true")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    only = set(filter(None, args.only.split(",")))
    sf_tag = os.path.basename(args.base.rstrip("/"))
    out_root = os.path.join(args.out, sf_tag)
    os.makedirs(out_root, exist_ok=True)

    if args.skip_generate:
        names = [n for n in corpus_specs(args.base)
                 if not only or n in only]
    else:
        names = generate(args.base, out_root, only)

    env = dict(os.environ)
    if args.tz:
        env["TZ"] = args.tz

    results = {}
    for name in names + [BASE_STREAM]:
        if name == BASE_STREAM:
            r = run_stream(repo, args.base, env)
        else:
            cdir = os.path.join(out_root, name)
            vout = os.path.join(out_root, f"{name}__vout")
            r = run_one(repo, cdir, vout, env)
        results[name] = r
        status = "PASS" if r["ok"] else f"FAIL({r['stage']})"
        print(f"{status:12s} {name:22s} {r['sec']:7.1f}s "
              f"{r.get('summary', '')}", flush=True)
        for f in r.get("fails", []):
            print(f"    {f}", flush=True)
        for c in r.get("crashed", []):
            print(f"    {c}", flush=True)
        for sfail in r.get("stream_fails", []):
            print(f"    {sfail}", flush=True)
        if "stream" in r:
            print(f"    {r['stream']}", flush=True)

    n_ok = sum(1 for r in results.values() if r["ok"])
    tzs = args.tz or "UTC(default)"
    print(f"\nedge sweep: {n_ok}/{len(results)} corpora green "
          f"(base={args.base}, tz={tzs})")
    print(json.dumps({"metric": "edge_sweep", "base": args.base,
                      "tz": tzs, "green": n_ok, "total": len(results),
                      "corpora": {k: v["ok"] for k, v in results.items()}}))
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
