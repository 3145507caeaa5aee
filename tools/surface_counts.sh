#!/usr/bin/env bash
# Prints the code-surface counts reported before and after each change:
# src/main lines, files defining a `main`, SparkSession.builder sites in
# programs (src/main plus any file with a `main`; the specs' shared test
# session is not a program), distinct SPARK_GRAFT_* env names and distinct
# "spark.graft.*" conf keys. Run from anywhere: tools/surface_counts.sh
set -euo pipefail
cd "$(dirname "$0")/.."
count() { printf '%-28s %s\n' "$1" "$2"; }
programs=$( { find src/main -name '*.scala'; grep -rl --include='*.scala' 'def main(' src; } | sort -u)
count "src/main lines" "$(find src/main -name '*.scala' -exec cat {} + | wc -l)"
count "files with def main(" "$(grep -rl --include='*.scala' 'def main(' src | wc -l)"
count "SparkSession.builder sites" "$(cat $programs | grep -o 'SparkSession\.builder' | wc -l)"
count "SPARK_GRAFT_* env names" "$(grep -rhoE --include='*.scala' 'SPARK_GRAFT_[A-Z0-9_]+' src | sort -u | wc -l)"
count "spark.graft.* conf keys" "$(grep -rhoE --include='*.scala' '"spark\.graft\.[A-Za-z0-9_.]+"' src | sort -u | wc -l)"
