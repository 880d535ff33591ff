#!/usr/bin/env bash
# Run a command and fail if it leaves a new graft-*, librocksdbjni* or
# liblz4-java* entry in the JVM's java.io.tmpdir. Every scratch dir the
# code makes lives under one per-JVM graft-scratch-* root that is
# deleted at exit; the RocksDB and LZ4 native libraries a JVM extracts
# there are deleted at exit only when it exits without Runtime.halt.
#
# Usage: tools/check_scratch_leak.sh <command...>
#   e.g. tools/check_scratch_leak.sh sbt --batch "testOnly *"
# Exit: the command's status if it failed, else 1 on a leak, else 0.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <command...>" >&2
  exit 2
fi

tmp=$(java -XshowSettings:properties -version 2>&1 |
  sed -n 's/^ *java\.io\.tmpdir = //p')
tmp=${tmp:-/tmp}
list() {
  find "$tmp" -mindepth 1 -maxdepth 1 \
    \( -name 'graft-*' -o -name 'librocksdbjni*' -o -name 'liblz4-java*' \) |
    sort
}

before=$(list)
"$@"
status=$?
after=$(list)

leaked=$(comm -13 <(printf '%s\n' "$before") <(printf '%s\n' "$after") |
  sed '/^$/d')
if [ -n "$leaked" ]; then
  echo "check_scratch_leak: $(printf '%s\n' "$leaked" | wc -l) new graft-*/native-library entries in $tmp:" >&2
  printf '%s\n' "$leaked" | while read -r d; do du -sh "$d" >&2; done
  [ "$status" -ne 0 ] && exit "$status"
  exit 1
fi
echo "check_scratch_leak: no new graft-*, librocksdbjni* or liblz4-java* entry in $tmp" >&2
exit "$status"
