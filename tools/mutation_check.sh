#!/usr/bin/env bash
# Oracle-gate SENSITIVITY check: plant one-line mutations in the Spark-side
# query code and assert the DuckDB hash gate actually FIRES on each.
#
# The whole evidence chain rests on "twin SQL is generated from shared
# constants, so the engines cannot drift" — this script proves the gate has
# teeth by mutating the SPARK side only (structural mutations: comparison
# bounds, argmin direction, bit interleave, slice offsets, default values).
# NOTE what this deliberately does NOT test: mutating a SHARED constant
# (codebook values, thresholds interpolated into the generated SQL) moves
# BOTH engines together and is invisible to the gate BY DESIGN — absolute
# constant values are pinned by exact-value ScalaTest specs, not by the
# engine-vs-engine oracle.
#
# Usage: tools/mutation_check.sh          (sf0.001, ~2 min per mutation)
#        SF=/root/testdata/sf0.01 tools/mutation_check.sh
#
# Exit: 0 if every mutation was caught (>=1 failing query or a build/run
# failure), 1 if any mutation slipped through the gate (a coverage hole).
set -u
MAIN_ROOT="$(git rev-parse --show-toplevel)"
SF="${SF:-/root/testdata/sf0.001}"
OUT=/tmp/mutation_check
mkdir -p "$OUT"
HOLES=0
SUMMARY=""

# Crash safety (round 9 committed mutation arm M17 as production code:
# the plain in-tree `git checkout` restore never ran when the round's
# budget expired mid-arm, and the end-of-round snapshot swept up the
# mutated tree). Two layers:
#
# 1. ALL mutation work happens in a detached scratch WORKTREE at HEAD —
#    the main tree is never touched, so even an untrappable SIGKILL
#    mid-arm cannot leave mutated code where a snapshot commit would
#    find it. (Uncommitted main-tree changes are NOT tested: commit
#    first.) The worktree persists across runs for incremental compiles.
# 2. Within the worktree, the currently mutated file is tracked in a
#    global and restored by an EXIT/INT/TERM trap (the signal traps
#    exit — a trapped TERM must not resume the arm loop).
WT=/tmp/mutation_worktree
HEAD_SHA="$(git -C "$MAIN_ROOT" rev-parse HEAD)"
if [ ! -d "$WT/.git" ] && [ ! -f "$WT/.git" ]; then
  git -C "$MAIN_ROOT" worktree prune
  git -C "$MAIN_ROOT" worktree add --detach "$WT" "$HEAD_SHA" >/dev/null
else
  git -C "$WT" checkout --detach "$HEAD_SHA" >/dev/null 2>&1
  git -C "$WT" reset --hard "$HEAD_SHA" >/dev/null
fi
cd "$WT"
echo "mutation_check: running in scratch worktree $WT at ${HEAD_SHA:0:10}"

CURRENT_MUTATED=""
restore_mutated() {
  if [ -n "$CURRENT_MUTATED" ]; then
    git checkout -- "$CURRENT_MUTATED" 2>/dev/null || true
    CURRENT_MUTATED=""
  fi
}
trap restore_mutated EXIT
trap 'restore_mutated; exit 130' INT TERM

# The heredoc mutate step must abort the run on failure: if the 'old'
# target string is absent (e.g. the mutated form was committed, as at
# round-9 HEAD), proceeding would compile and gate UNMUTATED code and
# report a bogus 'caught' verdict.
apply_mutation() {
  local file="$1" old="$2" new="$3"
  if ! python3 - "$file" "$old" "$new" <<'PYEOF'
import sys
p, old, new = sys.argv[1], sys.argv[2], sys.argv[3]
s = open(p).read()
n = s.count(old)
if n != 1:
    sys.exit(f"expected exactly 1 occurrence of mutation target in {p}, found {n}")
open(p, 'w').write(s.replace(old, new))
PYEOF
  then
    echo "FATAL: mutation target not applicable in $file (stale 'old' string?)" >&2
    exit 2
  fi
}

# Dev-only subsetting (ONLY="merge-anti-join,retention-keep-flip"): run
# just the named arms — for iterating on a NEW arm without paying for the
# full suite. A committed MUTATION_RUN.md must come from a full run
# (empty ONLY); the summary header records the filter so a partial run
# can't masquerade as complete.
arm_skipped() {
  case ",${ONLY:-}," in
    ,,) return 1 ;;          # no filter: run every arm
    *",$1,"*) return 1 ;;    # named: run it
    *) echo ""; echo "=== mutation: $1 (skipped by ONLY filter)"; return 0 ;;
  esac
}

run_mutation() {
  local name="$1" file="$2" old="$3" new="$4" queries="$5" sf="${6:-$SF}"
  if arm_skipped "$name"; then return; fi
  echo ""
  echo "=== mutation: $name"
  echo "    file:     $file"
  echo "    change:   '$old' -> '$new'"
  echo "    queries:  $queries"
  if ! git diff --quiet -- "$file"; then
    echo "FATAL: $file has uncommitted changes; refusing to mutate" >&2
    exit 2
  fi
  CURRENT_MUTATED="$file"
  apply_mutation "$file" "$old" "$new"
  local verdict="NOT-CAUGHT"
  if sbt -batch compile > "$OUT/$name.build.log" 2>&1; then
    rm -rf "$OUT/$name"
    SPARK_GRAFT_VERIFY_ONLY="$queries" SPARK_GRAFT_CPUS=8 \
      sbt -batch "runMain graft.Verify $sf $OUT/$name" > "$OUT/$name.verify.log" 2>&1
    if python3 tools/check_oracle.py "$sf" "$OUT/$name" > "$OUT/$name.log" 2>&1; then
      verdict="NOT-CAUGHT"
      echo "!! gate PASSED under mutation — coverage hole (see $OUT/$name.log)"
    else
      local nfail
      nfail=$(grep -cE 'VALUES-DIFF|ROWS-DIFF|SCHEMA-DIFF|MISSING-SPARK|ORACLE-ERR' "$OUT/$name.log" || true)
      verdict="caught($nfail)"
      echo "caught: $nfail failing quer(y/ies):"
      grep -E 'VALUES-DIFF|ROWS-DIFF|SCHEMA-DIFF|MISSING-SPARK|ORACLE-ERR' "$OUT/$name.log" | head -4
    fi
  else
    verdict="caught(build)"
    echo "caught: mutated source does not compile"
  fi
  git checkout -- "$file"
  CURRENT_MUTATED=""
  if [ "$verdict" = "NOT-CAUGHT" ]; then HOLES=$((HOLES + 1)); fi
  SUMMARY="$SUMMARY
| $name | \`$old\` → \`$new\` | $queries | $verdict |"
}

# Spec-checked variant: for operators whose contract is pinned by
# ScalaTest rather than a relational oracle (transcendental keys etc.),
# the mutation must make the named suite FAIL.
run_mutation_spec() {
  local name="$1" file="$2" old="$3" new="$4" specs="$5"
  if arm_skipped "$name"; then return; fi
  echo ""
  echo "=== mutation (spec-checked): $name"
  echo "    file:     $file"
  echo "    change:   '$old' -> '$new'"
  echo "    specs:    $specs"
  if ! git diff --quiet -- "$file"; then
    echo "FATAL: $file has uncommitted changes; refusing to mutate" >&2
    exit 2
  fi
  CURRENT_MUTATED="$file"
  apply_mutation "$file" "$old" "$new"
  local verdict="NOT-CAUGHT"
  if sbt -batch compile > "$OUT/$name.build.log" 2>&1; then
    if sbt -batch "testOnly $specs" > "$OUT/$name.log" 2>&1; then
      verdict="NOT-CAUGHT"
      echo "!! specs PASSED under mutation — coverage hole (see $OUT/$name.log)"
    else
      verdict="caught(spec)"
      echo "caught: $specs failed under the mutation"
      grep -E "\*\*\* FAILED" "$OUT/$name.log" | head -3
    fi
  else
    verdict="caught(build)"
    echo "caught: mutated source does not compile"
  fi
  git checkout -- "$file"
  CURRENT_MUTATED=""
  if [ "$verdict" = "NOT-CAUGHT" ]; then HOLES=$((HOLES + 1)); fi
  SUMMARY="$SUMMARY
| $name | \`$old\` → \`$new\` | $specs | $verdict |"
}

# M1: silence-threshold arm — weather similarity below the exclusion
# threshold must contribute EXACTLY zero, not epsilon
run_mutation weather-threshold-arm \
  src/main/scala/graft/expr/WeightExprs.scala \
  'when(weatherSimilarity < WeatherExclusionThreshold, lit(0.0))' \
  'when(weatherSimilarity < WeatherExclusionThreshold, lit(0.01))' \
  'k08_kernel_risk,k14_kernel_weather,k16_kernel_extreme,k22_weather_factor'

# M2: LSH band slice off-by-one — bands must tile the signature exactly
run_mutation band-slice-off-by-one \
  src/main/scala/graft/dedup/Dedup.scala \
  'slice(col("sig"), b * r + 1, lit(r))' \
  'slice(col("sig"), b * r + 2, lit(r))' \
  'd05b_lsh_banding,d25_incremental_lsh'

# M3: PQ encode argmin flipped to argmax — every code assignment wrong
run_mutation pq-argmin-flip \
  src/main/scala/graft/sim/Similarity.scala \
  '(array_position(dists, array_min(dists)) - 1).cast("int")' \
  '(array_position(dists, array_max(dists)) - 1).cast("int")' \
  's06_ann_pq,s08_ann_ivfpq'

# M4: Morton interleave swapped — lat must own the odd bits
run_mutation morton-interleave-swap \
  src/main/scala/graft/expr/GeoExprs.scala \
  'shiftleft(latBit, 2 * i + 1).bitwiseOR(shiftleft(lonBit, 2 * i))' \
  'shiftleft(latBit, 2 * i).bitwiseOR(shiftleft(lonBit, 2 * i + 1))' \
  'k21_morton_key'

# M5: pagination page boundary off by one
run_mutation pagination-offset \
  src/main/scala/graft/queries/CoreQueries.scala \
  'col("rn") >= 101 && col("rn") <= 150' \
  'col("rn") >= 100 && col("rn") <= 150' \
  'q14_pagination'

# M6: neutral-weather default perturbed — the no-weather kernel's coalesce
# value must match the documented 0.5 exactly
run_mutation neutral-weather-default \
  src/main/scala/graft/kernel/SafetyKernel.scala \
  'accidents.withColumn("wsim", lit(NeutralWeatherSimilarity))' \
  'accidents.withColumn("wsim", lit(NeutralWeatherSimilarity + 0.1))' \
  'k08_kernel_risk,k18_location_kernel'

# M7: Count-Min probe min-over-rows flipped to max — d28's width is sized
# below the vocabulary precisely so collisions make this arm live
run_mutation cms-min-flip \
  src/main/scala/graft/expr/SketchAggs.scala \
  'if (depth == 1) ests.head else least(ests: _*)' \
  'if (depth == 1) ests.head else greatest(ests: _*)' \
  'd28_cms_heavy_hitters'

# M8: register-sketch rank off by one — registers and the harmonic
# estimate must move
run_mutation hll-rank-off-by-one \
  src/main/scala/graft/expr/SketchAggs.scala \
  'math.min(java.lang.Long.numberOfTrailingZeros(w) + 1, MaxRank)' \
  'math.min(java.lang.Long.numberOfTrailingZeros(w) + 2, MaxRank)' \
  'd29_hll_distinct'

# M9: histogram bucket off-by-one — every in-range value lands one bin
# high, shifting the interpolated quantiles
run_mutation hist-bucket-off-by-one \
  src/main/scala/graft/expr/SketchAggs.scala \
  'else math.min(bins, 1 + math.floor((v - lo) / (hi - lo) * bins).toInt)' \
  'else math.min(bins, 2 + math.floor((v - lo) / (hi - lo) * bins).toInt)' \
  'd32_hist_quantiles'

# M10: sampling uniform collapsed — u32 range shrinks 2^16x, nearly every
# row passes the Bernoulli gate
run_mutation sample-uniform-collapse \
  src/main/scala/graft/pipeline/Sampling.scala \
  '.withColumn("__u32", hash % lit(U32Mod))' \
  '.withColumn("__u32", hash % lit(65536L))' \
  'd33_weighted_sample'

# M11: drift scale factor off — TV reported 10% high
run_mutation drift-tv-scale \
  src/main/scala/graft/expr/SketchAggs.scala \
  'val tv = lit(0.5) * (l1.cast("double")' \
  'val tv = lit(0.55) * (l1.cast("double")' \
  'd34_hist_drift'

# M12: keeper rank flipped — last row under the order survives instead of
# first
run_mutation keeper-rank-flip \
  src/main/scala/graft/dedup/Dedup.scala \
  '.withColumn("keeper_id", first(col(idCol)).over(w))' \
  '.withColumn("keeper_id", last(col(idCol)).over(w))' \
  'd35_cluster_keepers'

# M13: bloom probe hashes the wrong key stream — matching fact rows miss
# the filter (a manufactured false negative) and vanish from the join
run_mutation bloom-probe-wrong-hash \
  src/main/scala/graft/pipeline/ScaleLayout.scala \
  'BloomExprs.mightContain(bcast, xxhash64(col(factKey)))' \
  'BloomExprs.mightContain(bcast, xxhash64(col(factKey), lit(1)))' \
  'd31_bloom_join'

# M14: deep-cold risk adjustment drifts one point — the hourly risk and
# everything derived from it (climbable flag, summary fallback) move
run_mutation hourly-temp-band \
  src/main/scala/graft/analytics/Analytics.scala \
  '.when(col("temp") < -15, 15.0).when(col("temp") < -5, 8.0)' \
  '.when(col("temp") < -15, 16.0).when(col("temp") < -5, 8.0)' \
  'k24_hourly_serving'

# M15: proximity tiebreak sends null dates FIRST — the tie group
# straddling the LIMIT boundary admits the null-date member instead.
# SF-SENSITIVE: k25 returns only 8 rows at sf0.001 (no tie group reaches
# the LIMIT boundary), so this arm is dead there by data shape, not gate
# coverage — it pins sf0.01 explicitly (verified firing: VALUES-DIFF on
# dist_km; verified dead at sf0.001 in the round-10 default run).
run_mutation proximity-nulls-first \
  src/main/scala/graft/analytics/Analytics.scala \
  'col("date").desc_nulls_last, col("accident_id").asc)' \
  'col("date").desc_nulls_first, col("accident_id").asc)' \
  'k25_accident_proximity' \
  /root/testdata/sf0.01

# M16: A-ES key flipped from ln(u)/w to u/w — inclusion bias REVERSES
# (heavy rows become the least likely); the weight-bias spec must fail.
# Spec-checked: the transcendental key has no relational oracle.
run_mutation_spec aes-key-no-log \
  src/main/scala/graft/pipeline/Sampling.scala \
  '.withColumn("__aes_key", log(u) / col(weightCol).cast("double"))' \
  '.withColumn("__aes_key", u / col(weightCol).cast("double"))' \
  'graft.pipeline.SamplingSpec'

# M17: drift-bin argmax tie rule flipped to LAST-of-max — the documents
# fixture has multi-bin max ties at every test SF (verified sf0.001: 4
# sources; sf0.01: 5 sources), so the d34 oracle must fire
run_mutation drift-bin-tie-flip \
  src/main/scala/graft/expr/SketchAggs.scala \
  'val driftBin = array_position(diffArr, array_max(diffArr)).cast("int")' \
  'val driftBin = (lit(bins + 1) - array_position(org.apache.spark.sql.functions.reverse(diffArr), array_max(diffArr))).cast("int")' \
  'd34_hist_drift'

# M19: ImageIO decode channel order flipped — the R unit reads the BLUE
# byte; the planted formula gives every channel a distinct value, so the
# m05 aggregates (sum unchanged only if R==B everywhere, which never
# holds; geom always moves) must mismatch. Proves the NEW ImageIO oracle
# has teeth like the byte-decoder ones.
run_mutation imageio-channel-swap \
  src/main/scala/graft/multimodal/ImageIoCodec.scala \
  'units(p) = (rgb >> 16) & 0xff' \
  'units(p) = rgb & 0xff' \
  'm05_png_pixels'

# M18: residual IVFADC drops the dot(q, centroid) seed from the score
# fold — the decomposition dot(q,v) = dot(q,µ) + dot(q,r) loses its
# first term and every score (and cross-cell ranking) shifts
run_mutation residual-seed-dropped \
  src/main/scala/graft/sim/Similarity.scala \
  'val score = aggregate(sequence(lit(0), lit(cb.numSub - 1)), col("sim"), (acc, m) =>' \
  'val score = aggregate(sequence(lit(0), lit(cb.numSub - 1)), lit(0.0), (acc, m) =>' \
  's09_ann_ivfpq_res'

# M22: SHARED-CONSTANT drift — the class the engine-vs-engine gate is
# blind to BY DESIGN: RiskNormalizationFactor is interpolated into the
# generated DuckDB SQL, so both engines move together and every oracle
# row stays green. The frozen golden snapshots exist precisely for this
# hole — k08's golden pins the ABSOLUTE risk values, so the drift fails
# GoldenSnapshotSpec while check_oracle.py would pass.
run_mutation_spec shared-constant-drift \
  src/main/scala/graft/expr/WeightExprs.scala \
  'val RiskNormalizationFactor = 7.0' \
  'val RiskNormalizationFactor = 7.07' \
  'graft.golden.GoldenSnapshotSpec'

# M20: MERGE upsert anti-join flipped to semi — the incremental path keeps
# ONLY the stale versions of the updated keys and drops every untouched
# row; k30's read-back table loses routes > 100 on the merged date and all
# of the other kept date (rows + hash move)
run_mutation merge-anti-join \
  src/main/scala/graft/pipeline/ScoringPipeline.scala \
  'Seq("route_id", "prediction_date"), "left_anti")' \
  'Seq("route_id", "prediction_date"), "left_semi")' \
  'k30_score_sink_roundtrip'

# M21: retention keep-set negation dropped — retainDates deletes the KEPT
# partitions instead of the stale ones; the read-back table contains only
# the date the oracle excludes
run_mutation retention-keep-flip \
  src/main/scala/graft/pipeline/ScoringPipeline.scala \
  '!keepSet.contains(p.getName.stripPrefix("prediction_date="))' \
  'keepSet.contains(p.getName.stripPrefix("prediction_date="))' \
  'k30_score_sink_roundtrip'

# M24: the score sink's dynamic partition overwrite downgraded to
# static — a single-date rerun then TRUNCATES the whole table instead of
# replacing exactly that date's partition; the crashed-write
# failure-injection spec (untouched dates must survive a one-date rerun,
# debris removed, table equal to a clean single run) and the runDaily
# idempotency spec both fail. Spec-checked: the destroyed property is
# on-disk layout across reruns, which no single-query oracle sees.
run_mutation_spec sink-static-overwrite \
  src/main/scala/graft/pipeline/ScoringPipeline.scala \
  '"dynamic")
      .partitionBy("prediction_date")
      .parquet(outPath)' \
  '"static")
      .partitionBy("prediction_date")
      .parquet(outPath)' \
  'graft.pipeline.ScoringPipelineSpec'

# M23: the pruned fold's latitude band halved — PairMath.gateLatDeg is the
# half-width of the band each route searches; at half the gate radius an
# in-radius pair outside the narrowed band is silently dropped (exactly
# the failure class an over-tight prefilter introduces), so the bitwise
# pruned-fold specs and the exact-vs-pruned contributor counts fail
run_mutation_spec band-half-gate \
  src/main/scala/graft/kernel/PairMath.scala \
  'Math.toDegrees(gateKm / GeoExprs.EarthRadiusKm) * (1 + SkipMargin)' \
  'Math.toDegrees(gateKm / GeoExprs.EarthRadiusKm) * (1 + SkipMargin) / 2' \
  'graft.kernel.KernelPruningSpec'

# M25: the temporal base's sign flipped — `1 − 0.35·(…)` becomes
# `1 + 0.35·(…)` in WeightExprs.temporalBase, the one Catalyst body of the
# decay: the standalone weight (k03), the pair kernel's per-type slots
# (k08) and the location kernel's per-λ slots (k18) all read it, so one
# plant moves all three
run_mutation temporal-base-flip \
  src/main/scala/graft/expr/WeightExprs.scala \
  'lit(1.0) - lit(TemporalDecayImpact) * (lit(1.0) - pow(pow(lambda, days), TemporalDecayShape))' \
  'lit(1.0) + lit(TemporalDecayImpact) * (lit(1.0) - pow(pow(lambda, days), TemporalDecayShape))' \
  'k03_temporal_weight,k08_kernel_risk,k18_location_kernel'

# M26: the freeze-thaw term's sign flipped in the weather similarity's one
# `compute` body: the composite (w04, and k14 through the weather factor)
# and the detail struct's composite (w10) all read it, so one plant moves
# all three
run_mutation wsim-freeze-thaw-flip \
  src/main/scala/graft/expr/WeatherSimExpr.scala \
  'base += weighted(5, ftSim)' \
  'base -= weighted(5, ftSim)' \
  'w04_weather_similarity,w10_similarity_detailed,k14_kernel_weather'

# M27: the fold's spatial Gaussian evaluated with java.lang.Math.exp
# instead of Spark's StrictMath.exp — an ulp apart on some inputs. PairMath
# is the one per-pair definition every kernel query runs (k08, k09, k10,
# k14, k16 through the fold), but an ulp does not cross the oracle's 4- and
# 6-decimal rounding on the testdata (MUTATION_RUN.md), so the bitwise
# fold ≡ pair-reference specs are the gate that sees it
run_mutation_spec pairmath-spatial-exp \
  src/main/scala/graft/kernel/PairMath.scala \
  'StrictMath.exp(-(distKm * distKm) / twoH2)' \
  'Math.exp(-(distKm * distKm) / twoH2)' \
  'graft.pipeline.ScoringPipelineSpec graft.kernel.KernelPruningSpec graft.kernel.SafetyKernelSpec'

echo ""
echo "==================================================================="
if [ -n "${ONLY:-}" ]; then
  echo "PARTIAL RUN — ONLY='$ONLY' (not a full-suite verdict)"
fi
echo "mutation -> gate outcome (caught(N) = N queries failed the oracle)"
echo ""
echo "| mutation | change | queries run | outcome |"
echo "|---|---|---|---|$SUMMARY"
echo ""
# Belt-and-braces: the worktree must end clean (and the main tree was
# never touched at all). A dirty worktree here means a restore failed —
# loud exit 3 so no one mistakes a leftover mutation for finished work.
if ! git diff --exit-code --quiet; then
  echo "FATAL: scratch worktree dirty after run — restore failed" >&2
  git diff --stat >&2
  exit 3
fi
if [ "$HOLES" -gt 0 ]; then
  echo "RESULT: $HOLES mutation(s) NOT caught — the gate has coverage holes"
  exit 1
fi
echo "RESULT: every mutation was caught — the oracle gate fires"
exit 0
