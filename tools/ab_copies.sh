# Shared by tools/perf_ab.sh and tools/ab_lane.sh (source it, then call
# `ab_copies`): fresh `git archive` copies of a commit and of the working
# tree, so an A/B never checks anything out over the working tree and can
# compare uncommitted work.
#
#   ab_copies <ref> <dir>
#
# Empties <dir>, then writes <dir>/a from <ref> and <dir>/b from the
# working tree: tracked and untracked files that git does not ignore,
# edits included, written as a tree object through a temporary index, so
# the real index is untouched. Run it from the repository root.
ab_copies() {
  local ref="$1" dir="$2" index tree
  git rev-parse --verify --quiet "$ref^{commit}" >/dev/null ||
    { echo "ab_copies: '$ref' is not a commit" >&2; return 1; }
  rm -rf "$dir"
  mkdir -p "$dir/a" "$dir/b"
  git archive "$ref" | tar -x -C "$dir/a"
  index="$dir/index"
  GIT_INDEX_FILE="$index" git read-tree HEAD
  GIT_INDEX_FILE="$index" git add -A
  tree="$(GIT_INDEX_FILE="$index" git write-tree)"
  rm -f "$index"
  git archive "$tree" | tar -x -C "$dir/b"
  echo "ab_copies: a = $ref ($(git rev-parse --short "$ref")), b = working tree ($tree)" >&2
}
