#!/usr/bin/env bash
# Count code lines: the non-blank lines of the `.scala` files under the
# given paths (files or directories; default `src/main`) that do not
# start, after indentation, with `//`, `/*` or `*`. The one definition
# every net line count in CHANGES.md uses.
#
# Usage: scripts/code_lines.sh [paths...]   (paths relative to the repo root)
set -eu
cd "$(dirname "$0")/.."
[ $# -gt 0 ] || set -- src/main
find "$@" -name '*.scala' -type f -print0 | xargs -0 cat \
  | grep -v '^[[:space:]]*$' | grep -Ecv '^[[:space:]]*(//|/\*|\*)' || true
