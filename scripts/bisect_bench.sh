#!/bin/bash
# Same-box, code-vs-code bench bisect: HEAD vs a baseline commit over a
# fixed query subset (min-of-3 sweeps each, run back-to-back on the
# same box, never concurrently). Box-state drift has confounded recorded
# round-over-round tails twice; this writes the comparison that cannot be
# confounded into bench_bisect.json at the repo root, which graft.Bench
# embeds (with a source-digest staleness flag) as the "bisect" field of its
# output line — so the per-round BENCH artifact carries the box-immune
# ratio.
#
# Usage: scripts/bisect_bench.sh [baseline-commit]
#   baseline defaults to the newest "round N: ..." driver commit.
#
# Subset: the round-11 judge found the old 10-query subset missed both
# queries that actually moved that round — it now includes the known
# movers/outliers (lake_incremental, lake_orc, dedup_clusters,
# dedup_substring_removal) alongside the per-family representatives, and
# the report prints any per-query ratio outside 1.3x/0.77x as an OUTLIER
# line so a mover can't hide inside an aggregate ratio.
#
# Noise floor: three same-day runs over IDENTICAL benched code paths
# measured ratios 1.023 / 0.931 / 1.127 — treat any single run as
# parity±10%; only a ratio outside that band on a re-run is a real
# code-level shift.
set -euo pipefail
cd "$(dirname "$0")/.."
BASE=${1:-$(git log --grep='^round ' -n1 --format=%H)}
HEAD_COMMIT=$(git rev-parse HEAD)
# shellcheck source=bench_subset.env
. "$(dirname "$0")/bench_subset.env"
SUBSET=${SPARK_GRAFT_BISECT_SUBSET:-$GRAFT_BENCH_SUBSET}
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
PASSES=${SPARK_GRAFT_BISECT_PASSES:-3}
WT=$(mktemp -d /tmp/graft_bisect_XXXXXX)
rmdir "$WT"
git worktree add --detach "$WT" "$BASE" >/dev/null

run() (
  cd "$1"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_ONLY="$SUBSET" \
    SPARK_GRAFT_BENCH_PASSES="$PASSES" sbt -batch "runMain graft.Bench" 2>/dev/null \
    | grep '"metric"' | tail -1
)

echo "[bisect] baseline $BASE ..." >&2
BASE_LINE=$(run "$WT")
echo "[bisect] head $HEAD_COMMIT ..." >&2
HEAD_LINE=$(run .)

python3 - "$BASE" "$HEAD_COMMIT" "$BASE_LINE" "$HEAD_LINE" <<'EOF'
import json, sys, hashlib, pathlib
base_commit, head_commit, base_line, head_line = sys.argv[1:5]
b, h = json.loads(base_line), json.loads(head_line)
# digest of the benched source: graft.Bench compares this against the
# running tree (stale flag immune to artifact-only commits) — must
# mirror Bench.srcDigest byte-for-byte
dig = hashlib.sha256()
for p in sorted(pathlib.Path('src/main').rglob('*.scala'),
                key=lambda p: p.as_posix()):
    dig.update(p.as_posix().encode())
    dig.update(p.read_bytes())
bq = {k: v for k, v in b["queries"].items() if v >= 0}
hq = {k: v for k, v in h["queries"].items() if v >= 0}
common = sorted(set(bq) & set(hq))
bt, ht = sum(bq[k] for k in common), sum(hq[k] for k in common)
per_query = {k: (round(hq[k] / bq[k], 3) if bq[k] > 0 else None)
             for k in common}
out = {"baseline_commit": base_commit, "head_commit": head_commit,
       "src_digest": dig.hexdigest(),
       "queries": common,
       "baseline_total_sec": round(bt, 2), "head_total_sec": round(ht, 2),
       "ratio": round(ht / bt, 3) if bt > 0 else None,
       "per_query_ratio": per_query,
       "baseline": {k: bq[k] for k in common},
       "head": {k: hq[k] for k in common}}
open("bench_bisect.json", "w").write(json.dumps(out) + "\n")
print(f"[bisect] ratio {out['ratio']} ({ht:.1f}s head vs {bt:.1f}s baseline "
      f"over {len(common)} queries)")
for k in common:
    r = per_query[k]
    if r is not None and (r > 1.3 or r < 1 / 1.3):
        print(f"[bisect] OUTLIER {k}: {r}x ({bq[k]:.2f}s -> {hq[k]:.2f}s)")
EOF

git worktree remove --force "$WT"
