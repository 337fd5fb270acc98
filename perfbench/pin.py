#!/usr/bin/env python3
"""Regenerate perfbench/pins.json, the expected outputs the benchmark
checks every run against:

- ``crawl``: digests of the crawl_deep crawl (crawl order, article
  texts, gate flags) for each input variant, full size and miniature,
  as this commit's engine produces them;
- ``queries``: the DuckDB oracle's normalised result digest for every
  query of the suite, keyed by the SHA-256 of its SQL.

    python3 perfbench/pin.py            # all pins
    python3 perfbench/pin.py --queries  # only the query pins

Re-pin only for a change that is meant to alter those outputs, and say
so in the change.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads as wl  # noqa: E402


def pin_crawls(work: str) -> dict:
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = work
    spark = wl.build_session(work)
    out = {}
    try:
        for mini in (True, False):
            for v in range(wl.VARIANTS):
                cfg_kw, n_waves, kw = wl.crawl_spec(v, mini)
                cfg = synth.SynthConfig(n_waves=n_waves, **cfg_kw)
                pages, _ = wl.build_corpus(spark, cfg, v)
                cat = ManifestParquetCatalog(tempfile.mkdtemp(prefix="pin_", dir=work))
                wave.init_crawl(spark, cat, synth.build_seeds_df(spark, cfg))
                for w in range(n_waves):
                    wave.run_wave(spark, cat, pages, w, min_text_chars=cfg.min_text_chars, **kw)
                key = wl.pin_key(cfg_kw, n_waves, kw)
                out[key] = wl.crawl_digests(cat)
                print(key, out[key], flush=True)
                pages.unpersist()
                shutil.rmtree(cat.root, ignore_errors=True)
    finally:
        wl.stop_session(spark)
    return out


def pin_queries() -> dict:
    import duckdb

    from newscrawl.queries import QUERIES

    con = duckdb.connect()
    for t in wl.DUCK_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wl.DATA_DIR}/{t}.parquet')"
        )
    out = {}
    for name in sorted(wl.QUERY_SUITE):
        sql = QUERIES[name][1]
        out[name] = dict(
            wl.result_digest(con.execute(sql).df()),
            sql_sha256=hashlib.sha256(sql.encode("utf-8")).hexdigest(),
        )
        print(name, out[name], flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", action="store_true", help="re-pin only the queries")
    args = ap.parse_args()
    pins = {}
    if os.path.exists(wl.PINS_PATH):
        with open(wl.PINS_PATH) as f:
            pins = json.load(f)
    pins["queries"] = pin_queries()
    if not args.queries:
        work = os.path.join(ROOT, ".perfbench_work", "pin-" + uuid.uuid4().hex[:8])
        os.makedirs(work)
        try:
            pins["crawl"] = pin_crawls(work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    with open(wl.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
