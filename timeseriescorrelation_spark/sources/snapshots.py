"""Snapshot-versioned parquet tables: an Iceberg-SHAPED commit log for
the tier store — versioned manifests, atomic commits, time-travel
reads, and retention expiry — implemented over plain parquet + the
Hadoop FileSystem API so it runs anywhere Spark can write (file://,
hdfs://, s3a://).

This is NOT Iceberg and does not claim to be (no real Iceberg jars
ship in this environment — BASELINE.json names Iceberg as the table
format and ``sources/tableio.py`` routes to a real catalog when one is
configured).  What it preserves is the part of Iceberg's contract the
engine's retention tiers actually depend on:

- **Snapshot isolation**: a reader pinned to version N sees exactly
  version N's files forever, regardless of concurrent appends or
  overwrites (writers never mutate or delete a committed data file —
  expiry only removes files no RETAINED version references).
- **Atomic commits**: a commit is one manifest file made visible by a
  single filesystem rename — a crashed writer leaves data files but
  no manifest, so readers never observe a half-commit, and a re-run
  simply re-commits (the resume story manifests/checkpoints give the
  streaming side).
- **Time travel**: ``snapshot_read(..., version=N)`` and
  ``snapshot_log`` for audits ("what did the 1h tier contain when the
  report ran?").
- **Retention**: ``expire_snapshots(keep_last=K)`` drops old manifests
  and physically deletes data files only they referenced — the tier
  engine's raw→1m→1h→1d retention ladder applied to table history.

Layout::

    <table>/data/commit-<v>/part-*.parquet   (immutable once committed)
    <table>/_snapshots/v<N>.json             (manifest: file list)

Scale notes (100 TB): a manifest lists file PATHS, not rows — commits
and reads are O(|files|) metadata operations on the driver; data-file
IO stays fully distributed (``spark.read.parquet(*files)`` plans
splits exactly as a directory read would).  Real deployments with
catalog jars should use tableio.py's Iceberg branch; this module is
the honest fallback and the contract tests' executable spec.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

SNAP_DIR = "_snapshots"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def _read_text(jvm, fs, path) -> str:
    stream = fs.open(path)
    try:
        out = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return out


def _write_text_atomic(jvm, fs, path, text: str) -> None:
    tmp = jvm.org.apache.hadoop.fs.Path(
        path.getParent(), "." + path.getName() + "." + uuid.uuid4().hex
    )
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, path):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"snapshot commit lost the race for {path} — retry the write"
        )


def _versions(jvm, fs, table_path: str) -> list[int]:
    sd = jvm.org.apache.hadoop.fs.Path(table_path, SNAP_DIR)
    if not fs.exists(sd):
        return []
    out = []
    for st in fs.listStatus(sd):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _manifest(jvm, fs, table_path: str, version: int) -> dict:
    p = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/v{version}.json"
    )
    return json.loads(_read_text(jvm, fs, p))


def _list_parquet(jvm, fs, dir_uri: str) -> list[str]:
    """Recursive .parquet listing (full URIs) — partitioned commits
    nest files under partition directories."""
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(dir_uri), True)
    out = []
    while it.hasNext():
        p = str(it.next().getPath().toString())
        if p.endswith(".parquet"):
            out.append(p)
    return sorted(out)


def _read_files(spark: SparkSession, files: list[str],
                specs: dict[str, list[str]]):
    """Read a manifest's file list honoring per-commit partition specs:
    each partitioned commit group reads with its own basePath (so its
    partition columns come back from directory names), flat files read
    directly; groups union by name with missing columns allowed
    (schema evolution).  mergeSchema covers add-column WITHIN a group."""
    from functools import reduce

    if not specs:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    parts = []
    rest = [f for f in files if not any(f.startswith(b) for b in specs)]
    if rest:
        parts.append(
            spark.read.option("mergeSchema", "true").parquet(*rest)
        )
    for base in sorted(specs):
        g = [f for f in files if f.startswith(base)]
        if g:
            parts.append(
                spark.read.option("basePath", base)
                .option("mergeSchema", "true").parquet(*g)
            )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _align(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto the manifest schema: missing columns become
    typed NULLs (rows written before the column existed), every column
    cast to the recorded type (partition-directory values come back
    type-INFERRED and need pinning), manifest column order."""
    from pyspark.sql import functions as F

    cols = [
        (F.col(f.name) if f.name in df.columns
         else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def _evolved_schema(parent_json: dict | None, new_schema) -> dict:
    """Union the parent schema with the new commit's (ADDITIVE
    evolution: Iceberg's add-column): shared names must keep their
    exact type — widening/retyping raises instead of corrupting reads;
    brand-new columns append after the parent's, old readers of old
    versions never see them."""
    from pyspark.sql.types import StructType

    if not parent_json:
        return new_schema.jsonValue()
    parent = StructType.fromJson(parent_json)
    ptypes = {f.name: f.dataType for f in parent.fields}
    clashes = [
        f"{f.name}: {ptypes[f.name].simpleString()} -> "
        f"{f.dataType.simpleString()}"
        for f in new_schema.fields
        if f.name in ptypes and f.dataType != ptypes[f.name]
    ]
    if clashes:
        raise ValueError(
            "schema evolution is additive only; type changes rejected: "
            + "; ".join(clashes)
        )
    out = StructType(list(parent.fields))
    for f in new_schema.fields:
        if f.name not in ptypes:
            out = out.add(f)
    return out.jsonValue()


def snapshot_write(df: DataFrame, table_path: str,
                   mode: str = "append",
                   carry_files: list[str] | None = None,
                   extra_meta: dict | None = None,
                   partition_by: list[str] | None = None,
                   stat_cols: list[str] | None = None,
                   staged: bool = False) -> int | str:
    """Commit ``df`` as a new snapshot; returns the new version.

    mode="append": the new version references the parent's files plus
    this commit's; mode="overwrite": the new version references only
    this commit's files.  Either way, previously committed data files
    are never touched — old versions stay readable until expired.

    ``carry_files``: already-committed data files to ALSO reference in
    the new manifest without rewriting them — the splice compaction
    (sources/compaction.py) uses to keep full-sized files in place
    while replacing the undersized ones.

    ``partition_by``: write THIS commit hive-partitioned by the given
    columns.  Each commit carries its own spec in the manifest
    (Iceberg's partition-spec EVOLUTION): earlier commits keep their
    layout, readers recover each group's partition columns via its own
    basePath, and partition pruning applies per group — re-speccing a
    10^12-turn table costs zero rewrites.

    Schema rides inside the manifest and evolves ADDITIVELY on append
    (or any commit that carries parent files): new columns append,
    old rows read them as NULL, type changes raise.  A pure overwrite
    (no carries) resets the schema, like a table replace."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    parent = versions[-1] if versions else 0
    new_v = parent + 1
    commit_dir = f"{table_path}/data/commit-{new_v}-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(commit_dir)
    new_files = _list_parquet(jvm, fs, commit_dir)
    files = list(new_files)
    carried_deletes = []
    pm = _manifest(jvm, fs, table_path, parent) if parent else {}
    if carry_files:
        files = sorted(carry_files) + files
    if mode == "append" and parent:
        files = pm["files"] + files
    # equality-delete files (snapshot_delete_mor) stay in force for
    # every parent data file that SURVIVES into this manifest; a pure
    # overwrite rewrites all data, so its deletes are fully applied
    # and dropped.  Forgetting this carry would silently resurrect
    # deleted rows on the next append.
    if parent and (mode == "append" or carry_files):
        carried_deletes = pm.get("delete_files", [])
    # per-commit partition specs: carry the parent's entries that still
    # cover a referenced file, then record this commit's own spec
    keeps_parent = parent and (mode == "append" or carry_files)
    specs = {
        b: c for b, c in (pm.get("specs") or {}).items()
        if keeps_parent and any(f.startswith(b) for f in files)
    }
    if partition_by:
        qualified = str(
            fs.makeQualified(
                jvm.org.apache.hadoop.fs.Path(commit_dir)
            ).toString()
        )
        specs[qualified] = list(partition_by)
    schema_json = _evolved_schema(
        pm.get("schema") if keeps_parent else None, df.schema
    )
    # per-file min/max column stats (Iceberg's data-skipping metadata):
    # new files read their own parquet footers driver-side (O(|files|)
    # metadata IO); surviving parent files carry their stats forward
    file_stats = {
        f: s for f, s in (pm.get("file_stats") or {}).items()
        if keeps_parent and f in set(files)
    }
    if stat_cols:
        for f in new_files:
            s = _footer_stats(f, stat_cols)
            if s:
                file_stats[f] = s
    manifest = {
        "version": new_v,
        "parent": parent or None,
        "operation": mode,
        "files": files,
        "added_files": len(new_files),
        "total_files": len(files),
        # extra_meta rides INSIDE the atomic commit (the streaming
        # publisher's exactly-once batch_id lives here — stamping it
        # after the commit would reopen the duplicate-replay window)
        **(extra_meta or {}),
    }
    manifest["schema"] = schema_json
    if file_stats:
        manifest["file_stats"] = file_stats
    if specs:
        manifest["specs"] = specs
    if carried_deletes:
        manifest["delete_files"] = carried_deletes
    if staged:
        # write-audit-publish: the manifest lands OUTSIDE the version
        # sequence (staged-<id>.json — _versions only counts v*.json),
        # so no reader sees it until publish_staged promotes it.  The
        # intended parent rides along for optimistic-concurrency
        # validation at publish time.
        handle = f"staged-{uuid.uuid4().hex[:12]}"
        manifest["staged"] = True
        manifest["intended_parent"] = parent or None
        sp = jvm.org.apache.hadoop.fs.Path(
            table_path, f"{SNAP_DIR}/{handle}.json"
        )
        _write_text_atomic(jvm, fs, sp, json.dumps(manifest, indent=1))
        return handle
    mp = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/v{new_v}.json"
    )
    _write_text_atomic(jvm, fs, mp, json.dumps(manifest, indent=1))
    return new_v


def snapshot_read(spark: SparkSession, table_path: str,
                  version: int | str | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest committed; a
    string resolves through the named refs — snapshot_tag).  The
    plan reads EXACTLY the manifest's files — uncommitted or expired
    data directories are invisible."""
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    if isinstance(version, str):
        refs = snapshot_refs(spark, table_path)
        if version not in refs:
            raise FileNotFoundError(
                f"no ref {version!r} at {table_path} (refs: {refs})"
            )
        version = refs[version]
    v = versions[-1] if version is None else int(version)
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not in {versions} at {table_path}"
        )
    m = _manifest(jvm, fs, table_path, v)
    df = _read_files(spark, m["files"], m.get("specs") or {})
    if m.get("schema"):
        from pyspark.sql.types import StructType

        df = _align(df, StructType.fromJson(m["schema"]))
    return df


def snapshot_log(spark: SparkSession, table_path: str) -> list[dict]:
    """Commit history, oldest first: version/parent/operation/counts
    (the audit surface — 'when did the overwrite land?')."""
    jvm, fs, _ = _fs(spark, table_path)
    out = []
    for v in _versions(jvm, fs, table_path):
        m = _manifest(jvm, fs, table_path, v)
        out.append(
            {k: m[k] for k in
             ("version", "parent", "operation", "added_files",
              "total_files")}
            | ({"rolled_back_to": m["rolled_back_to"]}
               if "rolled_back_to" in m else {})
        )
    return out


def expire_snapshots(spark: SparkSession, table_path: str,
                     keep_last: int = 2) -> dict:
    """Drop all but the newest ``keep_last`` versions and physically
    delete data files that only expired versions referenced.  Returns
    {"expired_versions": [...], "deleted_files": n}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    # tagged versions are pinned: a ref names a snapshot someone must
    # be able to reproduce (e.g. "the data the August model trained
    # on") — expiry skips them and the files they reference
    tagged = set(snapshot_refs(spark, table_path).values())
    expire = [v for v in versions[:-keep_last] if v not in tagged]
    keep = [v for v in versions if v not in expire]
    def _all_paths(m):
        out = list(m["files"])
        for d in m.get("delete_files", []):
            out.extend(d["paths"])
        return out

    kept_files = set()
    for v in keep:
        kept_files.update(_all_paths(_manifest(jvm, fs, table_path, v)))
    deleted = 0
    for v in expire:
        for f in _all_paths(_manifest(jvm, fs, table_path, v)):
            if f not in kept_files:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
                kept_files.add(f)  # delete once even if multiply listed
                deleted += 1
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                table_path, f"{SNAP_DIR}/v{v}.json"
            ),
            False,
        )
    return {"expired_versions": expire, "deleted_files": deleted}


def snapshot_merge(updates: DataFrame, table_path: str,
                   key_cols: list[str]) -> dict:
    """Copy-on-write MERGE INTO (upsert): rows of ``updates`` REPLACE
    current rows sharing their key; keys not present insert.  Iceberg's
    copy-on-write merge semantics over the snapshot store:

    1. locate the data files that contain a matched key — ONLY those
       are rewritten (input_file_name() join against the broadcast
       update keys, then an O(|files|) driver-side distinct);
    2. new commit = (affected-file rows with matched keys dropped)
       ∪ updates, written once, fully distributed;
    3. the untouched files are CARRIED into the new manifest by
       reference (the compaction splice), inside one atomic commit.

    Readers pinned to older versions are unaffected (no committed file
    is ever mutated).  Returns {"version", "files_rewritten",
    "files_carried", "rows_upserted"}.

    Scale notes (100 TB): cost is proportional to the AFFECTED files,
    not the table — a point-update to one conv_id rewrites one file;
    the anti-join/union runs only over the affected subset.  A
    merge-on-read variant (delete files) is the other Iceberg mode;
    copy-on-write is the right default for the read-heavy tier store."""
    from pyspark.sql import functions as F

    spark = updates.sparkSession
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    cur_manifest = _manifest(jvm, fs, table_path, versions[-1])
    cur_files = cur_manifest["files"]
    cur_specs = cur_manifest.get("specs") or {}
    cur = snapshot_read(spark, table_path).withColumn(
        "_f", F.input_file_name()
    )
    keys = updates.select(*key_cols).distinct()
    # input_file_name() renders file:///x, Hadoop Path.toString()
    # file:/x — compare on the scheme-normalized path or the affected
    # set silently misses every file (double-referencing them)
    import re

    def _np(uri: str) -> str:
        return re.sub(r"^[A-Za-z0-9+.-]+:/+", "/", uri)

    touched = {
        _np(r["_f"])
        for r in cur.join(F.broadcast(keys), key_cols, "left_semi")
        .select("_f").distinct().collect()
    }
    affected = sorted(f for f in cur_files if _np(f) in touched)
    carried = [f for f in cur_files if _np(f) not in touched]
    if affected:
        aff = _read_files(spark, affected, cur_specs)
        if cur_manifest.get("schema"):
            from pyspark.sql.types import StructType

            aff = _align(
                aff, StructType.fromJson(cur_manifest["schema"])
            )
        survivors = aff.join(F.broadcast(keys), key_cols, "left_anti")
    else:
        survivors = updates.limit(0)
    new_rows = survivors.unionByName(updates)
    v = snapshot_write(
        new_rows, table_path, mode="overwrite", carry_files=carried,
        extra_meta={"merge_keys": list(key_cols)},
    )
    return {
        "version": v,
        "files_rewritten": len(affected),
        "files_carried": len(carried),
        "rows_upserted": updates.count(),
    }


def snapshot_diff(spark: SparkSession, table_path: str,
                  v_from: int, v_to: int) -> DataFrame:
    """Row-level change feed between two snapshots (CDC shape): the
    table rows with a `_change_type` column ('insert' for rows in
    v_to but not v_from, 'delete' for the reverse; an updated row
    appears as delete + insert, exactly Iceberg's
    `table_changes`/changelog view semantics for copy-on-write).

    exceptAll (multiset difference) keeps duplicate-row counts honest.
    Scale notes: two manifest-pinned scans + one hash-partitioned
    set-difference per direction — and because unchanged files are
    CARRIED between versions by reference, a smarter planner can skip
    file pairs shared by both manifests; this form stays fully
    declarative and lets AQE handle it."""
    from pyspark.sql import functions as F

    a = snapshot_read(spark, table_path, v_from)
    b = snapshot_read(spark, table_path, v_to)
    # schema evolution between the endpoints: compare on the COLUMN
    # UNION with typed NULLs for the missing side — an added column is
    # NULL in both reads of a carried file, so add-column alone diffs
    # as zero changes (Iceberg changelog semantics: no row rewrite)
    if set(a.columns) != set(b.columns):
        from pyspark.sql.types import StructType

        merged = {f.name: f for f in a.schema.fields}
        merged.update({f.name: f for f in b.schema.fields})
        union = StructType(list(merged.values()))
        a, b = _align(a, union), _align(b, union)
    ins = b.exceptAll(a).withColumn("_change_type", F.lit("insert"))
    dele = a.exceptAll(b).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dele)


def snapshot_delete_mor(keys: DataFrame, table_path: str,
                        key_cols: list[str]) -> int:
    """Merge-on-read DELETE: commit an equality-delete file (the
    distinct key tuples) instead of rewriting any data file — O(keys)
    write cost now, the anti-join paid by readers until a compaction
    rewrites.  Iceberg's equality-delete mode, complementing
    snapshot_merge's copy-on-write.

    Sequence-number semantics (the part naive implementations get
    wrong): a delete applies only to data files COMMITTED BEFORE it.
    Data directories carry their commit version in the path
    (data/commit-<v>-…), so snapshot_read can scope each delete file
    to older data — a key deleted at v5 and re-inserted at v7 IS
    visible at v7+, exactly Iceberg's behavior.  Returns the new
    version."""
    spark = keys.sparkSession
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    parent = versions[-1]
    pm = _manifest(jvm, fs, table_path, parent)
    new_v = parent + 1
    ddir = f"{table_path}/data/delete-{new_v}-{uuid.uuid4().hex[:8]}"
    keys.select(*key_cols).distinct().write.mode("error").parquet(ddir)
    dpath = jvm.org.apache.hadoop.fs.Path(ddir)
    dfiles = sorted(
        str(st.getPath().toString())
        for st in fs.listStatus(dpath)
        if st.getPath().getName().endswith(".parquet")
    )
    manifest = {
        "version": new_v,
        "parent": parent,
        "operation": "delete",
        "files": pm["files"],
        "added_files": 0,
        "total_files": len(pm["files"]),
        "delete_files": pm.get("delete_files", [])
        + [{"version": new_v, "key_cols": list(key_cols), "paths": dfiles}],
    }
    mp = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/v{new_v}.json"
    )
    _write_text_atomic(jvm, fs, mp, json.dumps(manifest, indent=1))
    return new_v


def _data_commit_version(path: str) -> int:
    """Commit version embedded in a data path (…/commit-<v>-<uuid>/…);
    0 for paths without one (never matches any delete, which is the
    conservative direction)."""
    import re

    m = re.search(r"/(?:commit)-(\d+)-", path)
    return int(m.group(1)) if m else 0


def snapshot_read_mor(spark: SparkSession, table_path: str,
                      version: int | None = None) -> DataFrame:
    """snapshot_read + equality-delete application with sequence
    scoping: data files of commit v_d drop keys from delete files of
    version v_del > v_d only.  Plan shape: one scan per distinct data
    commit present (metadata-bounded, typically a handful) with a
    broadcast anti-join of its applicable delete keys, unioned."""
    from functools import reduce

    from pyspark.sql import functions as F

    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    v = versions[-1] if version is None else int(version)
    m = _manifest(jvm, fs, table_path, v)
    files, dels = m["files"], m.get("delete_files", [])
    specs = m.get("specs") or {}
    if not dels:
        return snapshot_read(spark, table_path, v)
    by_commit: dict[int, list[str]] = {}
    for f in files:
        by_commit.setdefault(_data_commit_version(f), []).append(f)
    parts = []
    for v_d, fl in sorted(by_commit.items()):
        df = _read_files(spark, fl, specs)
        for d in dels:
            if d["version"] > v_d:
                kd = spark.read.parquet(*d["paths"])
                df = df.join(F.broadcast(kd), d["key_cols"], "left_anti")
        parts.append(df)
    out = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    if m.get("schema"):
        from pyspark.sql.types import StructType

        out = _align(out, StructType.fromJson(m["schema"]))
    return out


def _stat_value(v):
    """JSON-safe, order-preserving stat encoding: numerics unchanged,
    datetimes → ISO strings (lexicographic == chronological), bytes
    dropped (no total order worth pruning on)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) \
            else v.isoformat()
    if isinstance(v, (int, float, str)):
        return v
    return None


def _footer_stats(uri: str, cols: list[str]) -> dict:
    """Per-file min/max from the parquet footer (driver-side metadata
    read, the same bytes Iceberg caches in its manifests).  Only
    file:// URIs are read here; other schemes return {} (stats are an
    optimization, never a correctness dependency)."""
    import re

    local = re.sub(r"^file:/+", "/", uri)
    if local == uri and "://" in uri:
        return {}
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stat_value(st.min), _stat_value(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out


def scan_plan(spark: SparkSession, table_path: str,
              prune: dict[str, tuple], version: int | None = None) -> dict:
    """File-skipping plan for a range-pruned scan: which manifest files
    can be PROVEN irrelevant by their min/max column stats (or their
    partition-directory values), Iceberg's data-skipping contract —
    skipping is a file-level SUPERSET guarantee, the row filter still
    applies on read.  ``prune`` maps column → (lo, hi) inclusive
    bounds, either side None.  Files without stats for a column are
    always kept.  Returns {"files": kept, "skipped": n, "total": n}.
    """
    from urllib.parse import unquote

    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    v = versions[-1] if version is None else int(version)
    m = _manifest(jvm, fs, table_path, v)
    stats = m.get("file_stats", {})
    specs = m.get("specs") or {}
    norm = {
        c: (_stat_value(lo) if lo is not None else None,
            _stat_value(hi) if hi is not None else None)
        for c, (lo, hi) in prune.items()
    }

    def _bounds(f: str, col: str):
        s = stats.get(f, {}).get(col)
        if s:
            return s[0], s[1]
        for base, cols in specs.items():
            if f.startswith(base) and col in cols:
                for seg in f[len(base):].split("/"):
                    if seg.startswith(col + "="):
                        val = unquote(seg[len(col) + 1:])
                        lo = norm[col][0]
                        if isinstance(lo, (int, float)) or isinstance(
                                norm[col][1], (int, float)):
                            try:
                                fv = float(val)
                                return fv, fv
                            except ValueError:
                                return None, None
                        return val, val
        return None, None

    kept = []
    for f in m["files"]:
        drop = False
        for col, (lo, hi) in norm.items():
            mn, mx = _bounds(f, col)
            if mn is None:
                continue
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                drop = True
                break
        if not drop:
            kept.append(f)
    return {"files": kept, "skipped": len(m["files"]) - len(kept),
            "total": len(m["files"])}


def snapshot_scan(spark: SparkSession, table_path: str,
                  prune: dict[str, tuple],
                  version: int | None = None) -> DataFrame:
    """snapshot_read restricted to the scan_plan's surviving files —
    manifest-stat file skipping before Spark ever plans the scan.
    Apply the row-level filter on the result as usual (the plan is a
    superset; Spark's own predicate pushdown handles the rest)."""
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    v = versions[-1] if version is None else int(version)
    m = _manifest(jvm, fs, table_path, v)
    plan = scan_plan(spark, table_path, prune, version=v)
    if not plan["files"]:
        return snapshot_read(spark, table_path, v).limit(0)
    df = _read_files(spark, plan["files"], m.get("specs") or {})
    if m.get("schema"):
        from pyspark.sql.types import StructType

        df = _align(df, StructType.fromJson(m["schema"]))
    return df


def snapshot_read_staged(spark: SparkSession, table_path: str,
                         handle: str) -> DataFrame:
    """Read a STAGED (unpublished) commit for auditing — the 'audit'
    step of write-audit-publish.  Published readers never see this
    data; run the DQ suite here, then publish_staged or abandon."""
    jvm, fs, _ = _fs(spark, table_path)
    p = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/{handle}.json"
    )
    if not fs.exists(p):
        raise FileNotFoundError(f"no staged commit {handle}")
    m = json.loads(_read_text(jvm, fs, p))
    df = _read_files(spark, m["files"], m.get("specs") or {})
    if m.get("schema"):
        from pyspark.sql.types import StructType

        df = _align(df, StructType.fromJson(m["schema"]))
    return df


def publish_staged(spark: SparkSession, table_path: str,
                   handle: str) -> int:
    """Promote a staged commit into the version sequence atomically —
    the 'publish' step of write-audit-publish.  Optimistic
    concurrency: if the table head moved since staging, the publish
    REFUSES (ValueError) rather than silently rebasing a file list
    that was validated against a different parent — re-stage on the
    new head instead.  Returns the published version."""
    jvm, fs, _ = _fs(spark, table_path)
    p = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/{handle}.json"
    )
    if not fs.exists(p):
        raise FileNotFoundError(f"no staged commit {handle}")
    m = json.loads(_read_text(jvm, fs, p))
    versions = _versions(jvm, fs, table_path)
    head = versions[-1] if versions else None
    if m.get("intended_parent") != head:
        raise ValueError(
            f"table head moved (staged against {m.get('intended_parent')}, "
            f"head is {head}): audit was run on a stale base -- re-stage"
        )
    new_v = (head or 0) + 1
    m.pop("staged", None)
    m.pop("intended_parent", None)
    m["version"] = new_v
    mp = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/v{new_v}.json"
    )
    _write_text_atomic(jvm, fs, mp, json.dumps(m, indent=1))
    fs.delete(p, False)
    return new_v


def _refs_path(jvm, table_path: str):
    return jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/refs.json"
    )


def snapshot_refs(spark: SparkSession, table_path: str) -> dict:
    """Named refs (tags): {name: version}.  Tags pin a version against
    expiry — 'the snapshot the August model trained on' stays
    reproducible however many retention cycles pass."""
    jvm, fs, _ = _fs(spark, table_path)
    p = _refs_path(jvm, table_path)
    if not fs.exists(p):
        return {}
    return json.loads(_read_text(jvm, fs, p))


def snapshot_tag(spark: SparkSession, table_path: str, name: str,
                 version: int | None = None) -> int:
    """Tag ``version`` (default: current head) with ``name``.  Tags
    resolve in snapshot_read(version="name") and are excluded from
    expire_snapshots' reaping."""
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    v = versions[-1] if version is None else int(version)
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    refs = snapshot_refs(spark, table_path)
    refs[name] = v
    # atomic rename makes rewrite safe; last writer wins like Iceberg's
    # ref update
    _write_text_atomic(
        jvm, fs, _refs_path(jvm, table_path),
        json.dumps(refs, indent=1),
    )
    return v


def snapshot_files_table(spark: SparkSession, table_path: str,
                         version: int | None = None) -> DataFrame:
    """Iceberg's `table.files` metadata table: one row per data file of
    the given version — path, commit version, size, partition spec,
    whether footer stats are cached.  Driver-built (metadata-sized)."""
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    v = versions[-1] if version is None else int(version)
    m = _manifest(jvm, fs, table_path, v)
    stats = m.get("file_stats", {})
    specs = m.get("specs") or {}
    rows = []
    for f in m["files"]:
        spec = next(
            (",".join(c) for b, c in specs.items() if f.startswith(b)), ""
        )
        size = fs.getFileStatus(
            jvm.org.apache.hadoop.fs.Path(f)
        ).getLen()
        rows.append((f, _data_commit_version(f), int(size), spec,
                     f in stats))
    return spark.createDataFrame(
        rows,
        "path string, committed_version int, size_bytes long, "
        "partition_spec string, has_stats boolean",
    )


def snapshot_history_table(spark: SparkSession,
                           table_path: str) -> DataFrame:
    """Iceberg's `table.history`/`table.snapshots`: the commit log as a
    DataFrame (version, parent, operation, added/total files, staged
    commits excluded by construction)."""
    rows = [
        (h["version"], h["parent"], h["operation"], h["added_files"],
         h["total_files"])
        for h in snapshot_log(spark, table_path)
    ]
    return spark.createDataFrame(
        rows,
        "version int, parent int, operation string, added_files int, "
        "total_files int",
    )


def snapshot_rollback(spark: SparkSession, table_path: str,
                      to_version: int | str) -> int:
    """Roll the table head back to an earlier snapshot by COMMITTING A
    NEW VERSION that re-references the target's state (Iceberg's
    rollback semantics) — history is never rewritten, readers pinned
    to intermediate versions are untouched, and the bad versions stay
    inspectable until expiry.  ``to_version`` may be an int or a named
    ref (snapshot_tag).  Returns the new head version.

    The new manifest duplicates the target's files / schema /
    partition specs / file stats / in-force equality deletes, with
    parent = current head and operation = "rollback" + the target
    recorded, so snapshot_diff(head-1, head) shows exactly what the
    rollback undid and expire_snapshots keeps the re-referenced files
    alive."""
    jvm, fs, _ = _fs(spark, table_path)
    if isinstance(to_version, str):
        refs = snapshot_refs(spark, table_path)
        if to_version not in refs:
            raise KeyError(f"no ref named {to_version!r}")
        to_version = refs[to_version]
    versions = _versions(jvm, fs, table_path)
    if to_version not in versions:
        raise ValueError(f"version {to_version} does not exist")
    head = versions[-1]
    if to_version == head:
        return head
    tgt = _manifest(jvm, fs, table_path, to_version)
    new_v = head + 1
    manifest = {
        "version": new_v,
        "parent": head,
        "operation": "rollback",
        "rolled_back_to": to_version,
        "files": tgt["files"],
        "added_files": 0,
        "total_files": len(tgt["files"]),
        "schema": tgt.get("schema"),
    }
    for k in ("file_stats", "specs", "delete_files"):
        if tgt.get(k):
            manifest[k] = tgt[k]
    mp = jvm.org.apache.hadoop.fs.Path(
        table_path, f"{SNAP_DIR}/v{new_v}.json"
    )
    _write_text_atomic(jvm, fs, mp, json.dumps(manifest, indent=1))
    return new_v


def remove_orphan_files(spark: SparkSession, table_path: str,
                        dry_run: bool = False) -> dict:
    """Delete data files under the table that NO manifest references —
    the debris a crashed snapshot_write leaves behind (data lands
    before the atomic manifest rename, so a mid-commit failure strands
    a commit-dir) and the other half of the storage-hygiene pair with
    expire_snapshots (which only deletes files that WERE referenced).

    Every committed version, every staged (write-audit-publish)
    manifest, and every in-force equality-delete file counts as a
    reference.  Caveat (same as Iceberg's remove_orphan_files): a
    write IN FLIGHT right now has data on disk and no manifest yet —
    run this only when no writer is active, or dry_run first.

    Returns {"orphans": [...], "deleted": n} (dry_run: deleted = 0)."""
    jvm, fs, _ = _fs(spark, table_path)
    referenced: set[str] = set()
    for v in _versions(jvm, fs, table_path):
        m = _manifest(jvm, fs, table_path, v)
        referenced.update(m["files"])
        for d in m.get("delete_files", []):
            referenced.update(d["paths"])
    # staged commits are references too: their data is real, their
    # manifest just isn't in the version sequence yet
    sd = jvm.org.apache.hadoop.fs.Path(table_path, SNAP_DIR)
    if fs.exists(sd):
        for st in fs.listStatus(sd):
            name = st.getPath().getName()
            if name.startswith("staged-") and name.endswith(".json"):
                m = json.loads(_read_text(jvm, fs, st.getPath()))
                referenced.update(m.get("files", []))
                for d in m.get("delete_files", []):
                    referenced.update(d["paths"])
    data_dir = f"{table_path}/data"
    dp = jvm.org.apache.hadoop.fs.Path(data_dir)
    on_disk = (
        _list_parquet(jvm, fs, data_dir) if fs.exists(dp) else []
    )
    orphans = sorted(set(on_disk) - referenced)
    deleted = 0
    if not dry_run:
        for f in orphans:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
            deleted += 1
    return {"orphans": orphans, "deleted": deleted}


def snapshot_merge_cdc(changelog: DataFrame, table_path: str,
                       key_cols: list[str],
                       tie_col: str | None = None) -> dict:
    """Apply a CDC changelog in ONE atomic commit — MERGE INTO with
    WHEN MATCHED DELETE: ``changelog`` rows carry the table schema plus
    an ``op`` column ('I'/'U' upsert, 'D' delete).  The log is first
    NETTED per key (latest record by (ts, tie_col) wins, so
    U-then-D nets to a delete and D-then-U to an upsert), then applied
    with the same copy-on-write file surgery as snapshot_merge: only
    files containing a touched key are rewritten, the rest are carried
    by reference into the new manifest.

    Netting before applying is what makes replaying a Debezium/binlog
    batch idempotent and order-safe inside the batch; determinism of
    the net requires (ts, tie_col) to totally order each key's
    records (pass the log sequence number as tie_col).

    Returns {"version", "files_rewritten", "files_carried",
    "rows_upserted", "keys_deleted"}.

    Scale notes (100 TB): netting is one shuffle keyed on the CDC key
    over the (small) changelog; the table side touches only affected
    files, exactly like snapshot_merge."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = changelog.sparkSession
    order = [F.col("ts").desc()] + (
        [F.col(tie_col).desc()] if tie_col else []
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    netted = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    netted = netted.localCheckpoint(eager=True)  # two branches below

    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    cur_manifest = _manifest(jvm, fs, table_path, versions[-1])
    cur_files = cur_manifest["files"]
    cur_specs = cur_manifest.get("specs") or {}
    cur = snapshot_read(spark, table_path).withColumn(
        "_f", F.input_file_name()
    )
    # upserts take the TABLE's schema: changelog bookkeeping columns
    # (op, and ts/tie when they aren't table columns) are projected
    # away, so a log can always carry more context than the table
    table_cols = [c for c in cur.columns if c != "_f"]
    upserts = netted.where(F.col("op") != "D").select(*table_cols)
    n_deletes = netted.where(F.col("op") == "D").count()
    keys = netted.select(*key_cols).distinct()
    import re

    def _np(uri: str) -> str:
        return re.sub(r"^[A-Za-z0-9+.-]+:/+", "/", uri)

    touched = {
        _np(r["_f"])
        for r in cur.join(F.broadcast(keys), key_cols, "left_semi")
        .select("_f").distinct().collect()
    }
    affected = sorted(f for f in cur_files if _np(f) in touched)
    carried = [f for f in cur_files if _np(f) not in touched]
    if affected:
        aff = _read_files(spark, affected, cur_specs)
        if cur_manifest.get("schema"):
            from pyspark.sql.types import StructType

            aff = _align(aff, StructType.fromJson(cur_manifest["schema"]))
        survivors = aff.join(F.broadcast(keys), key_cols, "left_anti")
        new_rows = survivors.unionByName(upserts)
    else:
        new_rows = upserts
    v = snapshot_write(
        new_rows, table_path, mode="overwrite", carry_files=carried,
        extra_meta={"cdc_keys": list(key_cols)},
    )
    return {
        "version": v,
        "files_rewritten": len(affected),
        "files_carried": len(carried),
        "rows_upserted": upserts.count(),
        "keys_deleted": n_deletes,
    }
