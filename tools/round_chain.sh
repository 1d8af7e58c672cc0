#!/bin/bash
# Round-close artifact chain.
#
#   tools/round_chain.sh <round> [<testdata-dir>]
#
# <round> names the scaling artifact (SCALING_r<round>.json), the log dir
# (/tmp/r<round>_chain) and the Verify output dirs. <testdata-dir> holds
# the sf0.01 and sf0.1 corpora and defaults to the `testdata` directory
# beside the checkout; the sf1 and sf10 corpora are the checkout's
# testdata-sf1/ and testdata-sf10/ (GenTestData writes them).
#
# The TIMED stages (sf0.1 / sf1 / sf10 benches + the materialized audit)
# run FIRST on the idle box, and the contention-INSENSITIVE correctness
# stages (sf0.01 and sf1 verify + DuckDB oracle, whose artifacts carry no
# wall times) run in the tail: a truncated run loses only re-runnable
# correctness previews, never the paired bench + ratio set the scaling
# gates cross-check. Stage numbers keep their historical meanings (logs
# sort by execution order via the NN_ prefix).
# Hardening:
#   - set -e: any stage that fails kills the chain instead of letting a
#     later assert read a stale file;
#   - rm -rf $OUT at start: a crashed prior run can never leave a green
#     check_sf001.json for this run's asserts to pass on;
#   - check_bench asserts the artifact's mtime is NEWER than the chain
#     start ($OUT/t0), so a bench that crashed before writing cannot
#     pass against the previous round's committed artifact.
# Concurrency guard: the chain takes /tmp/graft_bench.lock for its whole
# life; a concurrent bench/chain launch fails fast instead of silently
# corrupting both runs' medians.
set -ex
R=${1:?usage: tools/round_chain.sh <round> [<testdata-dir>]}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
DATA=${2:-$(dirname "$ROOT")/testdata}
cd "$ROOT"
exec 9>/tmp/graft_bench.lock
flock -n 9 || { echo "another bench/chain holds /tmp/graft_bench.lock — refusing to corrupt both runs"; exit 3; }
export OUT=/tmp/r${R}_chain
rm -rf $OUT
mkdir -p $OUT
date +%s > $OUT/t0

# Post-stage assertion: the bench artifact exists, parses, recorded the
# expected runs_per_query, had zero failed queries, and was WRITTEN BY
# THIS CHAIN (mtime after $OUT/t0).
check_bench() { # <file> <expected_runs>
  python3 - "$1" "$2" <<'EOF'
import json, os, sys
f, runs = sys.argv[1], int(sys.argv[2])
t0 = int(open(os.environ["OUT"] + "/t0").read().strip())
assert os.path.getmtime(f) > t0, \
    f"{f}: mtime predates chain start — stage wrote nothing, artifact is stale"
d = json.load(open(f))
assert d["runs_per_query"] == runs, \
    f"{f}: runs_per_query={d['runs_per_query']} != {runs} — knob did not take effect"
assert d["failed"] == [], f"{f}: failed queries {d['failed']}"
boots = d.get("fixture_bootstrap_sec", {})
bad = [k for k, v in boots.items() if v < 0]
assert not bad, f"{f}: fixture bootstrap FAILED for {bad}"
if runs >= 2:
    sp = d["spread"]
    flat = [k for k, v in sp.items() if v["min"] == v["max"]]
    # min==max on EVERY query at runs>=2 means the spread was never
    # sampled twice; a few identical pairs are legitimate (memoized
    # serves), all of them is the r16 failure signature.
    assert len(flat) < len(sp), f"{f}: min==max on all queries at runs={runs}"
print(f"OK {f}: runs_per_query={runs}, {len(d['queries'])} queries, 0 failed")
EOF
}

# 0. freeze compiled classes so nothing races a stray compile
sbt -batch "Test/compile" > $OUT/00_compile.log 2>&1

# 2. graded bench, sf0.1, median-of-3 -> bench_full.json
SPARK_GRAFT_SF_DIR=$DATA/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  sbt -batch "runMain graft.Bench" > $OUT/02_bench_sf01.log 2>&1
check_bench bench_full.json 3

# 3. graded bench, sf1, median-of-3 -> BENCH_sf1.json
SPARK_GRAFT_SF_DIR=$ROOT/testdata-sf1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  SPARK_GRAFT_BENCH_OUT=BENCH_sf1.json \
  sbt -batch "runMain graft.Bench" > $OUT/03_bench_sf1.log 2>&1
check_bench BENCH_sf1.json 3

# 4. full-surface scaling ratios -> SCALING_r<round>.json (from the two
# artifacts steps 2-3 JUST wrote; ScalingGateSpec cross-checks the
# embedded totals against the committed benches, so a later re-run of
# either bench without re-running this step goes red by name)
python3 tools/scaling_ratio.py BENCH_sf1.json bench_full.json SCALING_r$R.json \
  > $OUT/04_scaling.log 2>&1

# 5. sf10 second-decade rung — the r16 heavy head + every r16-r20
# addition (the four r20 sketch replay faces + the r19 sf1-ratio band
# included). RUNS=2: min-of-2 rejects a single host-noise burst, and
# Bench prices the memoized fixtures' store bootstrap as a separate
# warm-up sample (fixture_bootstrap_sec), so the timed samples measure
# the SERVE path at both rungs.
SF10_SET=cluster_keep_best,cluster_sizes,containment_join,dedup_incremental,doremi_mixture,dup_windows,host_cap_ranked,html_extract,lsh_recall,minhash_estimate,ngram_novelty,pq_codes,quantile_sketch,sb_doc_score,sb_ngram_counts,simhash_recall,snm_dedup,training_set,weighted_median,temperature_allocation,cluster_from_index,diversity_sample,csv_quarantine,ann_ivf,index_compaction,time_travel,ccnet_buckets,soft_dedup,dedup_cluster,sessionize,ann_pq,soft_dedup_sample,lang_confusion_stream,hourly_profile_stream,anomalous_days_stream,cusum_days_stream,theil_sen_stream,mann_kendall_stream,hll_distinct_stream,hll_sliding_7d_stream,quantile_sketch_stream,weighted_quantile_stream,ring_shards,set_ops_parts,top_dup_substrings,chunk_cdc,salted_join
SPARK_GRAFT_SF_DIR=$ROOT/testdata-sf10 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=110g \
  SPARK_GRAFT_RUNS=2 SPARK_GRAFT_ONLY=$SF10_SET SPARK_GRAFT_BENCH_OUT=BENCH_sf10.json \
  sbt -batch "runMain graft.Bench" > $OUT/05_bench_sf10.log 2>&1
check_bench BENCH_sf10.json 2
python3 tools/scaling_ratio.py BENCH_sf10.json BENCH_sf1.json SCALING_sf10.json \
  > $OUT/05_scaling_sf10.log 2>&1

# 6. materialized-mode audit, sf0.1, single run -> bench_materialized.json
SPARK_GRAFT_SF_DIR=$DATA/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=96g \
  SPARK_GRAFT_EVAL=materialize SPARK_GRAFT_RUNS=1 \
  sbt -batch "runMain graft.Bench" > $OUT/06_materialized.log 2>&1
check_bench bench_materialized.json 1

# 1. sf0.01 full-surface Verify + DuckDB oracle (the correctness gate,
# previewed; contention-insensitive, so it runs after the timed stages)
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $DATA/sf0.01 /tmp/verify_r${R}_full" \
  > $OUT/01_verify_sf001.log 2>&1
python3 tools/oracle_check.py /tmp/verify_r${R}_full $DATA/sf0.01 \
  $OUT/check_sf001.json 600 > $OUT/01_oracle.log 2>&1
python3 - <<'EOF'
import json, os
d = json.load(open(os.environ["OUT"] + "/check_sf001.json"))
assert d["n_match"] == d["n_queries"], \
    f"sf0.01 correctness {d['n_match']}/{d['n_queries']}: {d['mismatches']}"
print(f"OK sf0.01 correctness {d['n_match']}/{d['n_queries']}")
EOF

# 7. sf1 full-surface correctness -> CORRECTNESS_sf1.json
SPARK_GRAFT_CPUS=24 SPARK_DRIVER_MEM=96g \
  sbt -batch "runMain graft.Verify $ROOT/testdata-sf1 /tmp/verify_r${R}_sf1" \
  > $OUT/07_verify_sf1.log 2>&1
python3 tools/oracle_check.py /tmp/verify_r${R}_sf1 $ROOT/testdata-sf1 \
  CORRECTNESS_sf1.json 1800 > $OUT/07_oracle_sf1.log 2>&1
python3 - <<'EOF'
import json, os
t0 = int(open(os.environ["OUT"] + "/t0").read().strip())
assert os.path.getmtime("CORRECTNESS_sf1.json") > t0, \
    "CORRECTNESS_sf1.json predates chain start — stale"
d = json.load(open("CORRECTNESS_sf1.json"))
assert d["n_match"] == d["n_queries"], \
    f"sf1 correctness {d['n_match']}/{d['n_queries']}: {d['mismatches']}"
print(f"OK sf1 correctness {d['n_match']}/{d['n_queries']}")
EOF

# 8. the hard bar itself, on exactly what will be committed
sbt -batch test > $OUT/08_sbt_test.log 2>&1 || { tail -50 $OUT/08_sbt_test.log; exit 1; }

echo CHAIN_DONE
