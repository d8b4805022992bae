#!/usr/bin/env python3
"""100x scale-rehearsal: the LINEAR-ANSWER operator families (plus the
s17 incremental admission gate) at a 100x corpus, in both Spark and
DuckDB, written to BENCH_sf100x.json. Together with BENCH_sfbig.json's
1x/10x columns this gives a measured 1x -> 10x -> 100x scaling CURVE
for every row here.

The output-quadratic LSH families (x02/x04/x05/x17/x28/x30/x37 ...)
are deliberately excluded: their ANSWER grows quadratically in the
replica count (every replica pair is a true dup), so a 100x run times
the output size, not the engine - the 10x capped rehearsal
(capped_10x in BENCH_sfbig.json) is their scale story. s17 IS
included: its per-epoch cost is batch x corpus, so it stays tractable
where the one-shot pair relation does not.

Driver-side tooling; run from the repo root:

    python3 tools/build_sfbig.py /root/testdata/sf0.1 /tmp/sf100x 100
    python3 tools/bench_sf100x.py
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_sfbig import TABLES, spark_bench  # noqa: E402

_RUNNER = r"""
import json, os, sys, time
import duckdb
sf, sql, runs = sys.argv[1], sys.stdin.read(), int(sys.argv[2])
con = duckdb.connect()
con.sql("SET memory_limit='100GB'")
for t in %r:
    p = os.path.join(sf, t + ".parquet")
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
ts = []
for _ in range(runs):
    t0 = time.time()
    con.sql(sql).fetchall()
    ts.append(time.time() - t0)
    if ts[-1] >= 30:
        break
print(json.dumps(round(sorted(ts)[len(ts) // 2], 3)))
""" % (TABLES,)

TIMEOUT_S = 300


def duck_bench_isolated(sf_dir, oracles, names, runs=3):
    """One subprocess per query: a DuckDB OutOfMemoryException (or any
    allocator-level failure) at 100x must not poison the parent — the
    in-process variant lost a whole leg to a thread-spawn failure right
    after an OOM row."""
    res = {}
    for name in names:
        try:
            p = subprocess.run(
                [sys.executable, "-c", _RUNNER, sf_dir, str(runs)],
                input=oracles[name], capture_output=True, text=True,
                timeout=TIMEOUT_S)
            if p.returncode == 0:
                # last stdout line: duckdb may emit progress/warning
                # noise ahead of the runner's single JSON line
                res[name] = json.loads(p.stdout.strip().splitlines()[-1])
            else:
                tail = (p.stderr or "").strip().splitlines()
                res[name] = "error:" + (tail[-1][:80] if tail else "unknown")
        except subprocess.TimeoutExpired:
            res[name] = f"timeout:{TIMEOUT_S}"
        except Exception as e:  # never lose the leg to one bad row
            res[name] = f"error:{type(e).__name__}"
        print(f"  duckdb {sf_dir} {name}: {res.get(name)}", flush=True)
    return res

QUERIES = [
    # events family (genuinely 100x rows)
    "q13_window_hourly", "q14_key_latency", "q15_timeout_alert",
    "x46_user_sequences",
    # per-doc text scoring (narrow, zero-exchange)
    "x08_lang_id", "x09_quality_score", "x21_repetition",
    "x32_quality_filter",
    # the three round-7 perf-weak rows after their h60/kernel rewrites
    "x36_unigram_score", "x22_tfidf_topk", "x49_bm25_topk",
    # LM / retrieval with linear answers
    "x45_bigram_lm",
    # sketches: cardinality-independent state - the flattest rows
    "x50_hll_distinct", "x51_token_pack", "x52_cms_heavy_hitters",
    "x59_sample_quantiles", "x60_sketch_rollup", "x61_cms_rollup",
    "x62_sample_rollup",
    # assembly / packing / chunking (linear)
    "x34_shard_pack", "x53_mixture_sample", "x54_doc_chunks",
    # exact line dedup + rebuild (hash groupBy, linear)
    "x39_line_dedup", "x40_corpus_rebuild",
    # decontamination (corpus x fixed benchmark set)
    "x18_decontaminate", "x41_bloom_decontaminate",
    # the streaming admission gate: batch-proportional epochs vs the
    # oracle's one-shot full-pair recompute
    "s17_stream_admission",
    # hybrid RRF retrieval: two bounded-heap corpus scans, fixed-size
    # answer - the curve-crossing row (Spark near-flat, DuckDB linear)
    "x63_hybrid_rrf",
    # round-9 linear-answer rows: KMV cross-source Jaccard (one corpus
    # pass + sketch-table compare), BPE merge rounds (corpus pass +
    # vocab-row dict rounds), ordered funnel (user-keyed joins over the
    # genuinely-100x events table).
    "x65_sketch_jaccard", "x66_bpe_merges", "x67_funnel",
    # round-10: snapshot diff at 100x (verdict-r9 item - linear,
    # hash-first), the IVF-PQ gate (broadcast-model narrow maps +
    # equi-join search), and the 8-round BPE chain (fixed-cost rounds
    # over the vocab dict).
    # x64_quality_propagate REMOVED round 13 (was added round 10): on
    # this near-dup replica fixture its input edge relation is
    # output-quadratic BY FIXTURE CONSTRUCTION — every replica is a
    # deliberate near-dup of its original, so each source doc sits in a
    # ~replicas-clique and |E| grows ~replicas^2 (256 -> 13,206 ->
    # 1,195,136 pairs at 1x/10x/100x, i.e. 4,668x edges for 100x docs;
    # the edge counts are recorded in BENCH_x64_linear.json). That puts
    # x64 in the same class as the x74/x76/x77 exemptions (pair-relation
    # rows). Its genuine 100x scaling is rehearsed instead on the
    # LINEAR-edge fixture (build_sfbig.py mode=distinct, replicas are
    # not near-dups of each other) — its timings are in
    # BENCH_x64_linear.json too.
    "x69_corpus_diff", "x70_ann_pq",
    "x71_bpe_deep",
    # round-10 second push: the streaming funnel over the genuinely-100x
    # events table (s17's sibling - the only other replay whose per-batch
    # work scales with the data) and the re-rank ANN tier
    "s18_stream_funnel", "x72_ann_pq_rerank",
    # round-10 third push: tokenizer application at 100x
    "x73_bpe_encode",
    # round-11: priority sampling (bounded-heap, |sources|·(k+1)-row
    # shuffle — flat) and the streaming quantile sketch (state
    # cardinality-independent). x74 stays excluded with the other
    # output-quadratic pair-relation rows: at 100 replicas its ANSWER
    # is ~25M true pairs (C(100,2) per replica group) — no engine
    # shrinks the output; its scale row lives in BENCH_sfbig.json.
    "x75_priority_sample", "s21_stream_quantiles",
    # round-11 second push: streaming priority sample — state is
    # |sources|·(k+1) rows regardless of stream length. x76 stays off
    # with x74 (output-quadratic pair relation on the replica fixture).
    "s22_stream_sample",
    # round-11 third push: hopping windows over the genuinely-100x
    # events table (state bounded by open windows x carriers). x77
    # stays off with x74/x76 (output-quadratic pair relations).
    "s23_hopping_window",
]


def main(sf100="/tmp/sf100x", sfbig_json="BENCH_sfbig.json",
         out="BENCH_sf100x.json"):
    if not os.path.exists(os.path.join(sf100, "documents.parquet")):
        sys.exit(f"{sf100} missing - run "
                 f"tools/build_sfbig.py /root/testdata/sf0.1 {sf100} 100")
    subprocess.run(["sbt", "-batch",
                    "runMain graft.Verify /root/testdata/sf0.001 /tmp/sf100x_oracle"],
                   env=dict(os.environ, SPARK_GRAFT_VERIFY_ONLY="__none__"),
                   check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    oracles = json.load(open("/tmp/sf100x_oracle/oracle_sql.json"))
    base = json.load(open(sfbig_json))

    # SF100X_SPARK_FROM reuses an already-recorded Spark leg (a prior
    # run's bench_result.json) instead of re-running the ~15 min pass
    reuse = os.environ.get("SF100X_SPARK_FROM")
    if reuse:
        prior = json.load(open(reuse))
        assert prior["sf"] == sf100, f"{reuse} is for {prior['sf']}"
        spark_100x = {q: prior["queries"][q] for q in QUERIES}
    else:
        spark_100x = spark_bench(sf100, QUERIES)

    result = {
        "big": sf100,
        "base_artifact": sfbig_json,
        "queries": QUERIES,
        "spark_100x": spark_100x,
        "duckdb_100x": duck_bench_isolated(sf100, oracles, QUERIES),
    }

    def ratio(a, b):
        ok = all(isinstance(v, (int, float)) and v for v in (a, b))
        return round(b / a, 2) if ok else None

    # the full curve, 1x/10x columns read from the committed 10x artifact
    result["spark_curve"] = {
        q: [base["spark_1x"].get(q), base["spark_10x"].get(q),
            result["spark_100x"].get(q)] for q in QUERIES}
    result["duckdb_curve"] = {
        q: [base["duckdb_1x"].get(q), base["duckdb_10x"].get(q),
            result["duckdb_100x"].get(q)] for q in QUERIES}
    result["spark_scaling_100x"] = {
        q: ratio(base["spark_1x"].get(q), result["spark_100x"].get(q))
        for q in QUERIES}
    result["duckdb_scaling_100x"] = {
        q: ratio(base["duckdb_1x"].get(q), result["duckdb_100x"].get(q))
        for q in QUERIES}
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out}")
    for q in QUERIES:
        sc, dc = result["spark_curve"][q], result["duckdb_curve"][q]
        print(f"{q:24s} spark {sc[0]!s:>7} {sc[1]!s:>7} {sc[2]!s:>8}  "
              f"duckdb {dc[0]!s:>7} {dc[1]!s:>7} {dc[2]!s:>8}")


if __name__ == "__main__":
    main(*sys.argv[1:])
