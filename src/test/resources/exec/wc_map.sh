#!/bin/sh
# Word-count mapper (graft.ops.MapStage.wcMap): split every input line on
# space, tab, '[' and ']', lowercase, and print `token<TAB>1` per token,
# empty tokens included. The tr set '[ \t]' holds the brackets themselves.
# Byte semantics: ASCII case folding, like the ASCII test corpora.
export LC_ALL=C
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{ print $0 "\t1" }'
