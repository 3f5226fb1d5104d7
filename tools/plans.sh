#!/bin/bash
# Print every plan fingerprint of a checkout: the 226 `PrintPlanGoldens`
# lines, then the 18 `PrintCuratePlans` lines.
#
# Usage: tools/plans.sh [root] > fingerprints.txt   (root defaults to this repo)
#
# The two devtools are copied from THIS checkout's tools/devtools into
# <root>/src/main/scala/graft/tmp (git-ignored), compiled with sbt in
# <root>, run through <root>/tools/run.sh and removed again, so one script
# checks a refactor: run it on a clone of the parent commit and on HEAD,
# then `diff` the two outputs. The fingerprints are relative to the
# sf0.001 fixture the devtools name.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(cd "${1:-$here/..}" && pwd)"
tmp="$root/src/main/scala/graft/tmp"
tools=(PrintPlanGoldens PrintCuratePlans)
mkdir -p "$tmp"
cleanup() { for t in "${tools[@]}"; do rm -f "$tmp/$t.scala"; done; }
trap cleanup EXIT
for t in "${tools[@]}"; do cp "$here/devtools/$t.scala" "$tmp/"; done
# offline build; an sbt repositories file in ~/.sbt overrides the
# resolvers when present (the same defaults as perfbench/run.py)
export COURSIER_MODE=offline
if [ -z "${SBT_OPTS:-}" ]; then
  SBT_OPTS="-Dsbt.offline=true -Xmx2g"
  repos="$HOME/.sbt/repositories"
  [ -f "$repos" ] && SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config=$repos $SBT_OPTS"
  export SBT_OPTS
fi
(cd "$root" && sbt --batch -Dsbt.log.noformat=true compile >&2)
for t in "${tools[@]}"; do "$root/tools/run.sh" "graft.tmp.$t"; done
