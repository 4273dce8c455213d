#!/bin/sh
# Word-count reducer (graft.ops.ReduceStage.wcReduce): count runs of
# adjacent equal keys (the field before the first tab) in the sorted input
# and print `key<TAB>count` per run.
export LC_ALL=C
cut -f1 | uniq -c | awk '{ n = $1; sub(/^ *[0-9]+ /, ""); print $0 "\t" n }'
