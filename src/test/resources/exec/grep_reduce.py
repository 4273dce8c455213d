#!/usr/bin/env python3
"""Grep reducer (graft.ops.ReduceStage.grepReduce): trim each line like
Java's String.trim, keep lines of exactly two tab-separated fields, and
print the second field."""
import sys

JAVA_TRIM = "".join(map(chr, range(0x21)))

for raw in sys.stdin.buffer:
    fields = raw.decode("utf-8").strip(JAVA_TRIM).split("\t")
    if len(fields) == 2:
        sys.stdout.buffer.write((fields[1] + "\n").encode("utf-8"))
