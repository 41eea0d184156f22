"""The durable-index commit protocol for the IVF / IVF+PQ layouts:
every rewrite publishes an immutable generation through a manifest
pointer.

Engine extension (the reference has no vector index to persist); the
protocol is the commit shape real table formats use (Iceberg/Delta):
every rewrite (build, retrain, compaction) lands in a fresh,
immutable generation directory ``gen-<n>/`` under the index root, and
is committed by publishing an immutable pointer file
``_manifests/manifest-<n>.json``. Readers list the manifests and
resolve the highest generation. Nothing is ever renamed over or
mutated in place, so the protocol is safe wherever a single small
object can be written and listed — POSIX, HDFS and object stores
alike, where directory "rename" is a per-object copy+delete.

Manifest atomicity: each pointer file is written once to a
``.tmp`` name and renamed to its final — never pre-existing — name.
A rename to a fresh name is safe on every store (on object stores it
is a single-object copy, and the destination object is complete the
instant it is visible); a reader therefore sees either the finished
manifest or no manifest, never a partial one. A crash before the
pointer rename leaves an orphan generation directory that the next
commit's GC removes — readers keep resolving the previous generation
throughout (the crash-injection tests pin this).

Writer concurrency: the protocol assumes a SINGLE writer per index —
the standard posture for maintenance jobs (Iceberg/Delta get
multi-writer safety from a catalog/log CAS this plain-FS layout does
not have). Two concurrent committers would race on the same
generation number and could interleave writes inside one generation
directory before either pointer lands. The pointer publish is a
last-line collision detector, not a substitute: it renames to a
never-pre-existing name, and Hadoop rename to an existing destination
fails, so the losing committer raises instead of silently
double-publishing — but the winning generation may already hold the
loser's partial files. Serialize retrain/compaction per index
(the streaming wrappers already do: one foreachBatch at a time).

A path holding data outside this layout (bare parquet, or an index
written by an older release that swapped directories) is never
adopted: the first commit refuses to initialize over it, and the
maintenance entry points refuse to treat it as fresh
(:func:`require_manifest_target`) — either would silently abandon the
data on disk.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

MANIFEST_DIR = "_manifests"


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-constructor) for the path's own scheme —
    local and HDFS alike (driver-local ``os`` calls only work on the
    driver's filesystem)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _is_complete(fs, hpath, directory: str) -> bool:
    """A parquet layout is complete iff the committer's ``_SUCCESS``
    marker landed — the one signal that survives any crash point."""
    return bool(fs.exists(hpath(directory.rstrip("/") + "/_SUCCESS")))


def _manifest_gen(name: str) -> int | None:
    """Generation number of a ``manifest-<n>.json`` file name, else
    None (ignores ``.tmp`` strays from a crashed pointer write)."""
    if not (name.startswith("manifest-") and name.endswith(".json")):
        return None
    num = name[len("manifest-") : -len(".json")]
    return int(num) if num.isdigit() else None


def latest_manifest(spark, path: str) -> dict | None:
    """The highest-generation committed manifest under ``path``, or
    None when no generation has been committed there (a fresh path,
    or data outside the layout). One small-object listing + one small
    read."""
    base = path.rstrip("/")
    mdir = base + "/" + MANIFEST_DIR
    fs, hpath = _hadoop_fs(spark, base)
    if not fs.exists(hpath(mdir)):
        return None
    best_gen, best_name = -1, None
    for status in fs.listStatus(hpath(mdir)):
        gen = _manifest_gen(status.getPath().getName())
        if gen is not None and gen > best_gen:
            best_gen, best_name = gen, status.getPath().getName()
    if best_name is None:
        return None
    stream = fs.open(hpath(mdir + "/" + best_name))
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    manifest = json.loads(raw.decode("utf-8"))
    manifest["generation"] = int(manifest["generation"])
    return manifest


def resolve_index_path(spark, path: str) -> str:
    """The committed generation directory holding the index's CURRENT
    data. Every read AND append goes through this. Raises when
    ``path`` has no committed manifest: an append there would leave
    bare rows outside the layout, which the next commit then refuses
    to initialize over."""
    base = path.rstrip("/")
    manifest = latest_manifest(spark, base)
    if manifest is None:
        raise IOError(
            f"no committed index at {base!r} (no manifest under "
            f"{MANIFEST_DIR}/) — build one first with build_ivf_index / "
            "build_ivf_pq_index"
        )
    gen_dir = base + "/" + manifest["dir"]
    fs, hpath = _hadoop_fs(spark, base)
    if not fs.exists(hpath(gen_dir)):
        raise IOError(
            f"index manifest at {base!r} points to generation directory "
            f"{manifest['dir']!r} which does not exist — the index is "
            "corrupt; refusing to fall back to a stale or partial layout"
        )
    return gen_dir


def read_index(spark, path: str) -> DataFrame:
    """Read the committed generation of the index at ``path``."""
    return spark.read.parquet(resolve_index_path(spark, path))


def commit_generation(spark, path: str, write_fn, keep: int = 2) -> str:
    """Write one new index generation and publish it.

    ``write_fn(gen_dir)`` writes the full parquet layout into the
    fresh generation directory; the generation becomes visible only
    when the immutable pointer file lands (tmp write + rename to a
    never-pre-existing name — see module docstring for why that is
    atomic on object stores). Old generations beyond ``keep`` are
    GC'd AFTER the commit, along with orphan generations a crashed
    earlier commit left unpublished. Returns the new generation dir.
    """
    base = path.rstrip("/")
    fs, hpath = _hadoop_fs(spark, base)
    current = latest_manifest(spark, base)
    if current is None:
        # first-generation commit: the root must be virgin (or hold
        # only unpublished orphans). Publishing gen-1 NEXT TO bare
        # parquet files would strand them forever (GC only tracks
        # gen-*) and break direct readers of the old layout. This
        # chokepoint covers every first commit: build_*, compact, and
        # maintain retrains.
        foreign = unmanifested_content(spark, base)
        if foreign:
            raise IOError(
                f"cannot initialize a manifest-committed index at {base!r}: "
                f"the path holds non-manifest content ({foreign[:5]}"
                f"{'...' if len(foreign) > 5 else ''}) — write to a fresh "
                "path, or remove the old layout deliberately first"
            )
    gen = (current["generation"] if current is not None else 0) + 1
    gen_name = f"gen-{gen:08d}"
    gen_dir = base + "/" + gen_name
    # a crashed prior attempt at this same generation number is an
    # unpublished orphan — clear it before writing
    fs.delete(hpath(gen_dir), True)
    write_fn(gen_dir)
    if not _is_complete(fs, hpath, gen_dir):
        raise IOError(
            f"commit_generation: writer left no _SUCCESS marker in "
            f"{gen_dir!r} — refusing to publish an unverified layout"
        )
    mdir = base + "/" + MANIFEST_DIR
    fs.mkdirs(hpath(mdir))
    final = mdir + f"/manifest-{gen:08d}.json"
    tmp = final + ".tmp"
    payload = json.dumps({"generation": gen, "dir": gen_name}).encode("utf-8")
    out = fs.create(hpath(tmp), True)
    try:
        out.write(payload)
    finally:
        out.close()
    if not fs.rename(hpath(tmp), hpath(final)):
        raise IOError(f"commit_generation: publishing {final!r} failed")
    _gc_generations(spark, base, committed_gen=gen, keep=keep)
    return gen_dir


def _gc_generations(spark, base: str, committed_gen: int, keep: int) -> None:
    """Delete generations (and their manifests) older than the newest
    ``keep``, plus orphan generation dirs NEWER than the committed
    pointer (unpublished leftovers of crashed commits). In-flight
    readers of the previous generation survive ``keep >= 2``."""
    fs, hpath = _hadoop_fs(spark, base)
    floor = committed_gen - keep + 1
    mdir = base + "/" + MANIFEST_DIR
    if fs.exists(hpath(mdir)):
        for status in fs.listStatus(hpath(mdir)):
            name = status.getPath().getName()
            gen = _manifest_gen(name)
            if gen is not None and gen < floor:
                fs.delete(status.getPath(), False)
            elif name.endswith(".tmp"):
                fs.delete(status.getPath(), False)
    for status in fs.listStatus(hpath(base)):
        name = status.getPath().getName()
        if not name.startswith("gen-"):
            continue
        num = name[len("gen-") :]
        if not num.isdigit():
            continue
        gen = int(num)
        if gen < floor or gen > committed_gen:
            fs.delete(status.getPath(), True)


def unmanifested_content(spark, path: str) -> list[str]:
    """Names under ``path`` that belong to NEITHER the manifest
    protocol's layout (``_manifests/``, ``gen-<digits>/``) nor to it
    being absent — i.e. data an index operation would silently strand
    or discard. Empty for a missing or protocol-clean path."""
    base = path.rstrip("/")
    fs, hpath = _hadoop_fs(spark, base)
    if not fs.exists(hpath(base)):
        return []
    foreign = []
    for status in fs.listStatus(hpath(base)):
        name = status.getPath().getName()
        if name == MANIFEST_DIR:
            continue
        if name.startswith("gen-") and name[len("gen-") :].isdigit():
            continue
        foreign.append(name)
    return sorted(foreign)


def require_manifest_target(spark, path: str) -> dict | None:
    """The committed manifest for ``path``, or None when the path is
    genuinely virgin (missing, or holding only unpublished orphan
    generations, which were never reader-visible). Raises when the
    path holds un-manifested data — bare parquet, or a layout from an
    older directory-swapping release — because every code path that
    treated that state as 'fresh' silently abandoned the on-disk
    index."""
    manifest = latest_manifest(spark, path)
    if manifest is not None:
        return manifest
    foreign = unmanifested_content(spark, path)
    if foreign:
        raise IOError(
            f"index path {path!r} holds data outside the manifest layout "
            f"({foreign[:5]}{'...' if len(foreign) > 5 else ''}) but no "
            "committed manifest — refusing to treat it as fresh (that "
            "would abandon the existing index); build the index at a "
            "FRESH path, or remove the old layout deliberately first"
        )
    return None


def load_existing_index(spark, path: str) -> DataFrame | None:
    """The existing index DataFrame for a maintenance rewrite, or None
    when the path is genuinely fresh. Shared by
    :func:`.ivf.maintain_ivf_index` / :func:`.pq.maintain_ivf_pq_index`.
    Existence is checked explicitly — no broad exception catch that
    could swallow a schema error and silently discard the on-disk
    index — and un-manifested data raises instead of returning None,
    which would feed a batch-only rebuild."""
    if require_manifest_target(spark, path) is None:
        return None
    return read_index(spark, path)
