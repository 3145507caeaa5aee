#!/usr/bin/env bash
# Prints the code-surface counts reported before and after each change:
# src/main lines, src/main lines that are neither blank nor comment,
# src/main files, files defining a `main`, SparkSession.builder sites in
# programs (src/main plus any file with a `main`; the specs' shared test
# session is not a program), distinct SPARK_GRAFT_* env names, distinct
# "spark.graft.*" conf keys and graft_* SQL functions (rows of the function
# table in graft.sql.functions). Run from anywhere: tools/surface_counts.sh
set -euo pipefail
cd "$(dirname "$0")/.."
count() { printf '%-28s %s\n' "$1" "$2"; }
programs=$( { find src/main -name '*.scala'; grep -rl --include='*.scala' 'def main(' src; } | sort -u)
# a comment line starts with // or lies in a /* … */ block that starts the line
code_lines() {
  awk 'inblock { if (index($0, "*/")) inblock = 0; next }
       /^[[:space:]]*$/ || /^[[:space:]]*\/\// { next }
       /^[[:space:]]*\/\*/ { if (!index(substr($0, index($0, "/*") + 2), "*/")) inblock = 1; next }
       { n++ } END { print n + 0 }'
}
count "src/main lines" "$(find src/main -name '*.scala' -exec cat {} + | wc -l)"
count "src/main code lines" "$(find src/main -name '*.scala' -exec cat {} + | code_lines)"
count "src/main files" "$(find src/main -type f | wc -l)"
count "files with def main(" "$(grep -rl --include='*.scala' 'def main(' src | wc -l)"
count "SparkSession.builder sites" "$(cat $programs | grep -o 'SparkSession\.builder' | wc -l)"
count "SPARK_GRAFT_* env names" "$(grep -rhoE --include='*.scala' 'SPARK_GRAFT_[A-Z0-9_]+' src | sort -u | wc -l)"
count "spark.graft.* conf keys" "$(grep -rhoE --include='*.scala' '"spark\.graft\.[A-Za-z0-9_.]+"' src | sort -u | wc -l)"
count "graft_* SQL functions" "$(grep -cE '^[[:space:]]*fn\("graft_' src/main/scala/graft/sql/expressions.scala)"
