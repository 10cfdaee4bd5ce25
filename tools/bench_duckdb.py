#!/usr/bin/env python3
"""DuckDB-side wall-clock for the same headline oracle queries Bench runs —
the honest single-node comparison point for BENCH_r{N}.json. At sf0.1 the
Spark numbers carry ~0.2-0.5s fixed per-query planning/dispatch overhead
that DuckDB (in-process, no planner JIT) does not; that overhead is flat
in data size and vanishes at the 100 TB design point.

Usage: bench_duckdb.py [sf_dir] [oracle_json] [out_json] [q1,q2,...]

Each query runs once warm, then best of 3, in its own worker process with
a 600 s budget (warm-up included); a query over budget is reported as a
timeout string and left out of the total. The optional query list replaces
the headline set; the optional output file gets the same JSON line."""
import json, multiprocessing, os, sys, time
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
oracle_file = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
out_file = sys.argv[3] if len(sys.argv) > 3 else None
heads = sys.argv[4].split(",") if len(sys.argv) > 4 else [
         "q01_agg_pricing","q03_join_topn","q05_join5_agg","q06_selective_sum",
         "q08_window_running","q23_count_distinct","q25_events_hourly",
         "dd01_exact_dup_groups","dd03_minhash_lsh_pairs","dd08_minhash_all",
         "sim01_cosine_topk","tx01_tokens",
         "tx28_repetition_filter","dd24_cdc_chunk_dedup"]
oracle = json.load(open(oracle_file))

def run_one(sql, q):
    con = duckdb.connect()
    con.sql("SET threads TO 32")
    # dd24's per-chunk ordered string_agg OOMs DuckDB's default config at sf10
    # (BENCH_SCALING r13) — give it the same envelope the Spark side gets
    con.sql("SET memory_limit='90GB'")
    con.sql("SET temp_directory='/tmp/duckdb_bench_spill'")
    for t in ["region","nation","customer","supplier","part","orders","lineitem",
              "events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        # multi-file twin layout (tools/split_corpus.py): table is a DIRECTORY
        src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    con.sql(sql).fetchall()          # warm
    times = []
    for _ in range(3):
        t0 = time.time(); con.sql(sql).fetchall(); times.append(time.time()-t0)
    q.put(round(min(times), 4))

if __name__ == "__main__":
    out, total = {}, 0.0
    for n in heads:
        q = multiprocessing.Queue()
        p = multiprocessing.Process(target=run_one, args=(oracle[n], q))
        t0 = time.time(); p.start(); p.join(timeout=600)
        if p.is_alive():
            p.terminate(); p.join()
            out[n] = f"timeout>600s (elapsed {time.time()-t0:.0f}s incl. warm)"
        else:
            out[n] = q.get(); total += out[n]
    line = json.dumps({"metric": "duckdb_total", "value": round(total, 3),
                       "unit": "sec", "queries": out, "sf": sf_dir})
    print(line)
    if out_file:
        open(out_file, "w").write(line + "\n")
