#!/usr/bin/env python3
"""Grep mapper (graft.ops.MapStage.grepMap): trim each line like Java's
String.trim (every char up to U+0020), drop blank lines, and print
`1<TAB>line` for lines whose lowercase form contains "product"."""
import sys

JAVA_TRIM = "".join(map(chr, range(0x21)))

for raw in sys.stdin.buffer:
    line = raw.decode("utf-8").strip(JAVA_TRIM)
    if line and "product" in line.lower():
        sys.stdout.buffer.write(("1\t" + line + "\n").encode("utf-8"))
