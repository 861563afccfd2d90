#!/bin/bash
# Prints the two size figures that should fall over time: the line count of
# the main Scala sources and the number of distinct spark.graft.* knobs they
# read. Run from anywhere: tools/size.sh
cd "$(dirname "$0")/.." || exit 1
lines=$(find src/main -name '*.scala' -print0 | xargs -0 cat | wc -l)
knobs=$(grep -rhoE 'spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]' src/main --include='*.scala' | sort -u | wc -l)
echo "src_main_scala_lines=$lines"
echo "spark_graft_knobs=$knobs"
