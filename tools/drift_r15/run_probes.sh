#!/bin/bash
# Attribution probes for one lock trip: the same queries timed
# (DriftProbe, 4 iterations) and their formatted plans dumped
# (Plans, named-query mode) in two checkouts of the repo, on one
# checksummed corpus. The checkouts sit next to the sources as
# .wt-probe-r14 and .wt-probe-r13.
set -x
QS="q_sim_rplsh_recall,q_curate_leakage,q_sim_graph_append,q_sim_graph_delete"
OUT=$(cd "$(dirname "$0")" && pwd)
ROOT=$(cd "$OUT/../.." && pwd)
CORPUS=$ROOT/testdata-sf1.0-vocabgrow
# checksum the corpus used (attribution prerequisite)
( cd $CORPUS && find . -name "*.parquet" | sort | xargs md5sum | md5sum ) > $OUT/corpus.md5 2>&1

for r in r14 r13; do
  cd $ROOT/.wt-probe-$r
  sbt -batch "runMain graft.DriftProbe $CORPUS 4 $QS" > $OUT/probe_$r.log 2>&1
  sbt -batch "runMain graft.Plans $OUT/plan_$r.txt $CORPUS ${QS//,/ }" > $OUT/plan_$r.log 2>&1
done
echo DONE > $OUT/status
