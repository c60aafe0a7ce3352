"""Generation-pointer index layout: atomic reader-visible publish.

The reference gets atomic visibility for maintenance from Elasticsearch
cluster state — data loads into staging nodes / a new index and an
alias/routing swap flips readers over in one step
(hail_scripts/shared/elasticsearch_client_v7.py:109-149, staging
posture luigi_pipeline/lib/hail_tasks.py:230-244).  The analog here:

* ``manifest.json`` carries a ``tables`` map of logical table name →
  relative directory (``{"postings": "postings-g3", ...}``; a missing
  entry means the plain name).  Its ``format_version`` is checked at
  load: an index written in any other on-disk format is refused with
  ``IndexFormatError`` and must be rebuilt.
* A maintenance op that rewrites a table writes the replacement into a
  NEW ``<table>-g<G>`` directory and publishes every rewritten table
  with ONE atomic manifest replace (write temp + os.replace).  A
  concurrent reader that loaded the old manifest keeps reading the old
  directories; a reader that loads the new manifest sees the complete
  new state — never a mix of swapped and unswapped bucket directories
  (the r3 ``update_facet_field``/``compact_index`` window).
* Old generation directories are NOT removed at publish: they stay on
  disk until the START of the next maintenance op (``gc_stale_dirs``
  under the single-writer lock), giving in-flight readers a full
  maintenance interval of grace.  Crash-orphaned generations (written
  but never published) are collected by the same sweep.

Scale posture: the manifest is O(1) metadata; a generation flip costs
one small-file replace regardless of index size.  ``update_facet_field``
hardlinks unaffected bucket directories into the new generation
(per-file ``os.link`` — metadata-only, no data copy), so a 100 TB index
re-tags one facet by writing only the affected buckets.  On an object
store without hardlinks the same design degrades to manifest pointers
at per-bucket granularity; here (one posix fs) links keep it simple.
"""

from __future__ import annotations

import json
import os
import re
import shutil

TABLES = ("postings", "termdict", "doclens", "deletes", "nested")
_GEN_RE = re.compile(r"^(postings|termdict|doclens|deletes|nested)-g\d+$")
_SCRATCH_RE = re.compile(r".*(__staging|__updating|__compacting|__old)$")

# bump when the on-disk table layout changes; load_manifest refuses
# every other version (the ES index-version analog)
INDEX_FORMAT_VERSION = 6  # v6: doclens carries warc_ts doc values


class IndexFormatError(ValueError):
    """The index was written in an on-disk format this code does not
    read; rebuild it with ``build_index``."""


def load_manifest(index_dir: str) -> dict:
    """The index's manifest — the single load behind every searcher and
    maintenance op, so the format check below is the only version gate."""
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    version = manifest.get("format_version")
    if version != INDEX_FORMAT_VERSION:
        raise IndexFormatError(
            f"index {index_dir} has format_version {version!r}, this code "
            f"reads {INDEX_FORMAT_VERSION}; rebuild it with build_index"
        )
    return manifest


def save_manifest_atomic(index_dir: str, manifest: dict) -> None:
    """Publish a manifest with one atomic replace — a concurrent reader
    sees the old manifest or the new one, never a truncated file (the
    in-place ``open(..., "w")`` it replaces could be read half-written)."""
    final = os.path.join(index_dir, "manifest.json")
    tmp = f"{final}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)


def rows_past_snapshot(index_dir: str, manifest: dict) -> bool:
    """True when ``index_dir``'s table dirs may hold rows that
    ``manifest``'s snapshot does not: an op is in flight (extend_index
    writes its intent marker before its in-place appends and removes it
    after saving its manifest) or a newer manifest is published.  Asked
    after the files are listed, it cannot miss an append among them."""
    stages = os.path.join(index_dir, "stages")
    if os.path.isdir(stages) and any(e.startswith("_EXTEND_INTENT_") for e in os.listdir(stages)):
        return True
    try:
        return load_manifest(index_dir) != manifest
    except (OSError, ValueError):
        return True


def table_path(index_dir: str, name: str, manifest: dict | None = None) -> str:
    """Resolve a logical table to its CURRENT directory via the manifest
    generation pointer; plain name when unmapped or when no manifest
    exists yet (mid-build)."""
    if manifest is None:
        try:
            manifest = load_manifest(index_dir)
        except (OSError, json.JSONDecodeError):
            manifest = {}
    rel = manifest.get("tables", {}).get(name, name)
    return os.path.join(index_dir, rel)


def next_gen_rel(manifest: dict, name: str) -> str:
    """Relative dir name for ``name``'s NEXT generation.  All tables
    rewritten by one op share the op's generation number."""
    return f"{name}-g{int(manifest.get('generation', 0)) + 1}"


def flip_tables(manifest: dict, updates: dict[str, str]) -> None:
    """Point tables at their new generation dirs (in-memory — the
    caller publishes with save_manifest_atomic)."""
    tables = manifest.setdefault("tables", {})
    for name in TABLES:
        tables.setdefault(name, name)
    tables.update(updates)
    manifest["generation"] = int(manifest.get("generation", 0)) + 1


def gc_stale_dirs(index_dir: str, manifest: dict) -> list[str]:
    """Remove generation/scratch directories no longer referenced by the
    manifest.  Runs at the START of a maintenance op (under the
    single-writer lock), so directories retired by the PREVIOUS op —
    which concurrent readers may still have been scanning — survive a
    full maintenance interval before removal."""
    live = {manifest.get("tables", {}).get(n, n) for n in TABLES}
    removed = []
    for entry in os.listdir(index_dir):
        if entry in live:
            continue
        p = os.path.join(index_dir, entry)
        if not os.path.isdir(p):
            continue
        if entry in TABLES or _GEN_RE.match(entry) or _SCRATCH_RE.match(entry):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(entry)
    return removed


def link_tree(src: str, dst: str) -> None:
    """Recreate ``src``'s directory tree under ``dst`` with per-file
    hardlinks — metadata-only, no data copied; the linked files are
    immutable parquet so sharing is safe."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(troot, exist_ok=True)
        for fn in files:
            os.link(os.path.join(root, fn), os.path.join(troot, fn))
