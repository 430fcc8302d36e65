"""Snapshot catalog: Iceberg-style table semantics on plain parquet.

The design point is an Iceberg warehouse (north rule: "over Iceberg tables …
resumable from checkpoint with per-partition lineage"), but this container
ships no Iceberg runtime jars, so the catalog implements the same *semantics*
— atomic snapshot commits, snapshot pinning, time travel, append/overwrite —
on a directory layout:

    <root>/<table>/
        snapshots/<snapshot_id>/part-*.parquet    (immutable data files)
        _meta/v<N>.json                           (snapshot log, atomic rename)

Every commit writes parquet; there is no Iceberg delegation.  Readers always
pin a snapshot id first, so concurrent appends never tear a read — the
property the resume/lineage plan (plans.lineage) relies on.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- metadata -----------------------------------------------------------
    def _meta_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_meta")

    def _versions(self, table: str) -> list[str]:
        d = self._meta_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.startswith("v") and f.endswith(".json"))

    def current_snapshot(self, table: str) -> dict | None:
        vs = self._versions(table)
        if not vs:
            return None
        with open(os.path.join(self._meta_dir(table), vs[-1])) as fh:
            return json.load(fh)

    def snapshots(self, table: str) -> list[dict]:
        out = []
        for v in self._versions(table):
            with open(os.path.join(self._meta_dir(table), v)) as fh:
                out.append(json.load(fh))
        return out

    # -- hidden partitioning -------------------------------------------------
    @staticmethod
    def _partition_col_expr(spec: dict) -> str:
        """SQL expression deriving a partition value from its SOURCE column —
        the Iceberg 'hidden partitioning' contract: queries filter on the
        source column, the layout/pruning runs on the transform."""
        t, c = spec["transform"], spec["col"]
        if t == "identity":
            return c
        if t == "bucket":
            # portable 60-bit md5 hash (functions.portable.phash60 formula)
            return (
                f"cast(conv(substring(md5(cast({c} as string)), 1, 15), 16, 10) "
                f"as bigint) % {int(spec['n'])}"
            )
        if t == "truncate":
            return f"(cast({c} as bigint) div {int(spec['n'])}) * {int(spec['n'])}"
        if t == "day":
            return f"cast(date_trunc('DAY', {c}) as date)"
        raise ValueError(f"unknown partition transform {t!r}")

    @staticmethod
    def partition_value(spec: dict, value):
        """Driver-side replica of _partition_col_expr for pruning literals."""
        t = spec["transform"]
        if t == "identity":
            return value
        if t == "bucket":
            import hashlib

            h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
            return h % int(spec["n"])
        if t == "truncate":
            return (int(value) // int(spec["n"])) * int(spec["n"])
        if t == "day":
            import datetime

            if isinstance(value, str):
                value = datetime.datetime.fromisoformat(value)
            if isinstance(value, datetime.datetime):
                return value.date()
            if isinstance(value, datetime.date):
                return value
            raise ValueError(f"cannot day-truncate {type(value).__name__}")
        raise ValueError(f"no driver-side transform for {t!r}")

    @staticmethod
    def _pname(spec: dict) -> str:
        return f"__p_{spec['transform']}_{spec['col']}"

    def _write_data_dir(
        self, df: DataFrame, data_dir: str, partition_spec: list[dict] | None
    ) -> None:
        """Write one immutable data dir honoring the table's hidden
        partitioning — EVERY write path (commit, merge_into) must derive the
        __p_* directory columns the same way, or a later scan_partitions
        directory filter hits a dir lacking the derived column."""
        if partition_spec:
            from pyspark.sql import functions as F

            out = df
            pnames = []
            for spec in partition_spec:
                pn = self._pname(spec)
                out = out.withColumn(pn, F.expr(self._partition_col_expr(spec)))
                pnames.append(pn)
            out.write.mode("overwrite").partitionBy(*pnames).parquet(data_dir)
        else:
            df.write.mode("overwrite").parquet(data_dir)

    # -- write --------------------------------------------------------------
    def commit(
        self, df: DataFrame, table: str, mode: str = "append",
        extra_meta: dict | None = None,
        partition_spec: list[dict] | None = None,
    ) -> str:
        """Write df as a new immutable snapshot; returns snapshot_id.

        append: new snapshot = previous data dirs + new dir (no rewrite);
        overwrite: new snapshot = new dir only.  The metadata json is written
        via atomic rename, so a crash mid-write never exposes a torn table.

        partition_spec: Iceberg-style hidden partitioning — a list of
        {"transform": "identity"|"bucket"|"truncate"|"day", "col": ...,
        "n": ...} dicts.  Data files land under one directory level per
        transform (physical layout), readers never see the derived columns,
        and `scan_partitions` prunes directories from a predicate on the
        SOURCE column.  Appends must reuse the table's active spec (a spec
        change needs an overwrite — partition-spec evolution on carried
        files is out of scope; Iceberg proper tracks per-file specs)."""
        prev = self.current_snapshot(table)
        if mode == "append" and prev is not None:
            active = prev.get("partition_spec")
            if partition_spec is None:
                partition_spec = active
            elif json.dumps(partition_spec, sort_keys=True) != json.dumps(
                active, sort_keys=True
            ):
                raise ValueError(
                    "append must reuse the table's partition spec; "
                    "overwrite to change it"
                )
        merge = bool(prev and prev.get("merge_schema")) if mode == "append" else False
        if mode == "append" and prev and prev.get("schema"):
            merge = self._check_evolution(prev, df) or merge
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, table, "snapshots", snap_id)
        self._write_data_dir(df, data_dir, partition_spec)

        seq = (prev["sequence"] + 1) if prev else 0
        dirs = [data_dir]
        dels: list[str] = []
        eqs: list[dict] = []
        data_seq = {data_dir: seq}
        if mode == "append" and prev:
            dirs = prev["data_dirs"] + dirs
            # delete vectors keyed by file path still apply to carried files,
            # and equality deletes still mask carried rows older than them
            dels = prev.get("delete_dirs", [])
            eqs = prev.get("eq_deletes", [])
            data_seq = {**self._dir_seq(prev), data_dir: seq}
        meta = {
            "snapshot_id": snap_id,
            "sequence": seq,
            "mode": mode,
            **(extra_meta or {}),
            "data_dirs": dirs,
            "delete_dirs": dels,
            "eq_deletes": eqs,
            "data_seq": data_seq,
            "partition_spec": partition_spec,
            "schema": json.loads(df.schema.json()),
            "merge_schema": merge,
            "committed_at_ms": int(time.time() * 1000),
        }
        os.makedirs(self._meta_dir(table), exist_ok=True)
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self._meta_dir(table), f"v{meta['sequence']:09d}.json"))
        return snap_id

    # -- schema evolution -----------------------------------------------------
    @staticmethod
    def _check_evolution(prev: dict, df: DataFrame) -> bool:
        """Validate an append's schema against the table schema and return
        whether reads must merge footers.

        Iceberg-style rules, conservatively: ADDING columns is evolution
        (old files read the new column as null via mergeSchema); CHANGING a
        column's type is rejected (silent cross-file coercion corrupts at
        scale); DROPPING a column in the writer is allowed — the old files
        still carry it and merged reads resurface it as null for new rows.
        """
        import json as _json

        old = {f["name"]: _json.dumps(f["type"], sort_keys=True)
               for f in prev["schema"]["fields"]}
        new = {f["name"]: _json.dumps(f["type"], sort_keys=True)
               for f in _json.loads(df.schema.json())["fields"]}
        for name in old.keys() & new.keys():
            if old[name] != new[name]:
                raise ValueError(
                    f"schema evolution rejected: column {name!r} changes type"
                )
        return old.keys() != new.keys()

    # -- write-audit-publish --------------------------------------------------
    def stage(self, df: DataFrame, table: str, mode: str = "append") -> str:
        """WAP step 1: write a snapshot that READERS CANNOT SEE.

        The staged snapshot is a full candidate version (data written, meta
        journaled with ``staged: true``); `current_snapshot`/`read` skip it,
        so audits run against it explicitly (``read(table, snap_id)``) while
        production reads keep serving the last published version.  Publish
        with `publish()` (atomic rename — the audit-to-visible flip is one
        filesystem op) or drop it with `abandon()`.
        """
        prev = self.current_snapshot(table)
        merge = bool(prev and prev.get("merge_schema")) if mode == "append" else False
        if mode == "append" and prev and prev.get("schema"):
            merge = self._check_evolution(prev, df) or merge
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, table, "snapshots", snap_id)
        df.write.mode("overwrite").parquet(data_dir)
        dirs = [data_dir]
        dels: list[str] = []
        if mode == "append" and prev:
            dirs = prev["data_dirs"] + dirs
            dels = prev.get("delete_dirs", [])
        meta = {
            "snapshot_id": snap_id,
            "sequence": (prev["sequence"] + 1) if prev else 0,
            "mode": mode,
            "staged": True,
            "schema": json.loads(df.schema.json()),
            "merge_schema": merge,
            "data_dirs": dirs,
            "delete_dirs": dels,
            "committed_at_ms": int(time.time() * 1000),
        }
        os.makedirs(self._meta_dir(table), exist_ok=True)
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"staged-{snap_id}.json")
        )
        return snap_id

    def publish(self, table: str, snap_id: str) -> None:
        """WAP step 3: atomically promote an audited staged snapshot.

        The staged meta becomes the next version file via one rename; its
        sequence is re-assigned at publish time so staged snapshots can be
        audited (and abandoned) in any order."""
        path = os.path.join(self._meta_dir(table), f"staged-{snap_id}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no staged snapshot {snap_id!r} for {table!r}")
        with open(path) as fh:
            meta = json.load(fh)
        cur = self.current_snapshot(table)
        meta["sequence"] = (cur["sequence"] + 1) if cur else 0
        if meta["mode"] == "append" and cur:
            # re-base on whatever was published while this snapshot was staged
            meta["data_dirs"] = cur["data_dirs"] + meta["data_dirs"][-1:]
            meta["delete_dirs"] = cur.get("delete_dirs", [])
            meta["merge_schema"] = bool(
                meta.get("merge_schema") or cur.get("merge_schema")
            )
        meta.pop("staged")
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"v{meta['sequence']:09d}.json")
        )
        os.remove(path)

    def abandon(self, table: str, snap_id: str) -> None:
        """Drop a staged snapshot that failed its audit: meta first, then the
        (never-visible) data dir."""
        import shutil

        path = os.path.join(self._meta_dir(table), f"staged-{snap_id}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no staged snapshot {snap_id!r} for {table!r}")
        os.remove(path)
        shutil.rmtree(
            os.path.join(self.root, table, "snapshots", snap_id), ignore_errors=True
        )

    def staged_snapshots(self, table: str) -> list[dict]:
        d = self._meta_dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            if f.startswith("staged-") and f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    # -- branches & tags ------------------------------------------------------
    def _refs_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_refs")

    def _write_ref(self, table: str, name: str, ref: dict) -> None:
        d = self._refs_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(ref, fh)
        os.replace(tmp, os.path.join(d, f"{name}.json"))

    def _read_ref_meta(self, table: str, name: str) -> dict:
        path = os.path.join(self._refs_dir(table), f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no ref {name!r} on table {table!r}")
        with open(path) as fh:
            return json.load(fh)

    def refs(self, table: str) -> dict:
        d = self._refs_dir(table)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(d, f)) as fh:
                    r = json.load(fh)
                out[r["name"]] = r
        return out

    def create_tag(self, table: str, name: str, snapshot_id: str | None = None) -> dict:
        """Iceberg-style TAG: an immutable named pointer to a snapshot.
        Tagged snapshots are retention-protected — `expire_snapshots` keeps
        their data dirs even outside the keep_last window (audit/repro pins
        like 'training-run-2026-08')."""
        if name in self.refs(table):
            raise ValueError(f"ref {name!r} already exists on {table!r}")
        meta = self._pin(table, snapshot_id)
        ref = {"name": name, "type": "tag", "snapshot_id": meta["snapshot_id"],
               "meta": meta, "created_at_ms": int(time.time() * 1000)}
        self._write_ref(table, name, ref)
        return ref

    def create_branch(
        self, table: str, name: str, snapshot_id: str | None = None
    ) -> dict:
        """Iceberg-style BRANCH: a mutable ref forked from a snapshot.
        `commit_to_branch` advances the branch WITHOUT touching main — the
        isolation primitive for backfills/experiments over 100 TB tables;
        `fast_forward` promotes the branch head to main atomically when main
        has not moved since the fork."""
        if name in self.refs(table):
            raise ValueError(f"ref {name!r} already exists on {table!r}")
        meta = self._pin(table, snapshot_id)
        ref = {"name": name, "type": "branch", "snapshot_id": meta["snapshot_id"],
               "forked_from": meta["snapshot_id"], "meta": meta,
               "created_at_ms": int(time.time() * 1000)}
        self._write_ref(table, name, ref)
        return ref

    def commit_to_branch(
        self, df: DataFrame, table: str, name: str, mode: str = "append"
    ) -> str:
        """Write a snapshot whose parent is the BRANCH head; main is not
        moved and never sees the branch lineage.  Same append/overwrite and
        schema-evolution semantics as `commit`."""
        ref = self._read_ref_meta(table, name)
        if ref["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag; tags are immutable")
        prev = ref["meta"]
        merge = bool(prev.get("merge_schema")) if mode == "append" else False
        if mode == "append" and prev.get("schema"):
            merge = self._check_evolution(prev, df) or merge
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, table, "snapshots", snap_id)
        df.write.mode("overwrite").parquet(data_dir)
        dirs = [data_dir]
        dels: list[str] = []
        if mode == "append":
            dirs = prev["data_dirs"] + dirs
            dels = prev.get("delete_dirs", [])
        meta = {
            "snapshot_id": snap_id,
            "sequence": prev.get("sequence", 0) + 1,
            "mode": mode,
            "branch": name,
            "data_dirs": dirs,
            "delete_dirs": dels,
            "schema": json.loads(df.schema.json()),
            "merge_schema": merge,
            "committed_at_ms": int(time.time() * 1000),
        }
        ref["snapshot_id"] = snap_id
        ref["meta"] = meta
        self._write_ref(table, name, ref)
        return snap_id

    def read_ref(self, table: str, name: str) -> DataFrame:
        """Read a table at a named ref (tag or branch head)."""
        return self._df_from_meta(self._read_ref_meta(table, name)["meta"])

    def fast_forward(self, table: str, name: str) -> str:
        """Promote a branch head to main — atomic, and ONLY when main still
        sits at the branch's fork point (otherwise the branch has to be
        rebuilt on current main; silent merge would drop main's commits)."""
        ref = self._read_ref_meta(table, name)
        if ref["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag")
        cur = self.current_snapshot(table)
        cur_id = cur["snapshot_id"] if cur else None
        if cur_id != ref["forked_from"]:
            raise ValueError(
                f"branch {name!r} forked from {ref['forked_from']!r} but main "
                f"is at {cur_id!r}: diverged, cannot fast-forward"
            )
        meta = dict(ref["meta"])
        meta["sequence"] = (cur["sequence"] + 1) if cur else 0
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"v{meta['sequence']:09d}.json")
        )
        ref["forked_from"] = meta["snapshot_id"]
        self._write_ref(table, name, ref)
        return meta["snapshot_id"]

    def drop_ref(self, table: str, name: str) -> None:
        path = os.path.join(self._refs_dir(table), f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no ref {name!r} on table {table!r}")
        os.remove(path)

    # -- positional deletes (deletion vectors) -------------------------------
    @staticmethod
    def _dir_seq(meta: dict) -> dict:
        """dir -> sequence at which it was added.  Snapshots written before
        sequence tracking default every dir to 0 (equality deletes then
        apply to all of them — the Iceberg-correct treatment of data whose
        commit order is unknown but predates the delete)."""
        return {
            d: int(meta.get("data_seq", {}).get(d, 0)) for d in meta["data_dirs"]
        }

    def _apply_deletes(self, df: DataFrame, meta: dict) -> DataFrame:
        """Apply positional delete vectors then equality deletes to rows
        carrying (__fp, __ri) physical identity.

        Equality deletes are sequence-scoped (Iceberg v2): a delete at
        sequence S masks key-matching rows only in files committed at
        sequence < S — rows appended by the same or a later snapshot (e.g.
        a MERGE's own upserts) stay alive.  Both joins broadcast the small
        delete side; the data side never shuffles."""
        from pyspark.sql import functions as F

        if meta.get("delete_dirs"):
            dv = self.spark.read.parquet(*meta["delete_dirs"])
            df = df.join(
                F.broadcast(dv),
                (df["__fp"] == dv["file_path"]) & (df["__ri"] == dv["row_index"]),
                "left_anti",
            )
        eqs = meta.get("eq_deletes") or []
        if eqs:
            seq_expr = None
            for d, s in self._dir_seq(meta).items():
                cond = F.col("__fp").contains(d.rstrip("/") + "/")
                seq_expr = (
                    F.when(cond, F.lit(s)) if seq_expr is None
                    else seq_expr.when(cond, F.lit(s))
                )
            df = df.withColumn("__seq", F.coalesce(seq_expr, F.lit(0)))
            for e in eqs:
                keys = (
                    self.spark.read.parquet(e["dir"])
                    .select(*[F.col(c).alias(f"__k_{c}") for c in e["cols"]])
                    .distinct()
                )
                cond = F.col("__seq") < F.lit(int(e["seq"]))
                for c in e["cols"]:
                    cond = cond & df[c].eqNullSafe(F.col(f"__k_{c}"))
                df = df.join(F.broadcast(keys), cond, "left_anti")
            df = df.drop("__seq")
        return df

    def _read_base(self, meta: dict, with_pos: bool, pfilter=None) -> DataFrame:
        """Raw rows of a snapshot's data dirs, derived partition columns
        dropped, optional (__fp, __ri) physical identity.  Partitioned
        multi-dir snapshots are read per-dir and unioned: each append dir is
        its own partition-discovery root (a shared basePath would make the
        snapshot-id level look like a partition), and the spec is enforced
        identical across appends so the union is by name.  ``pfilter`` (a
        predicate on a derived __p_ column) is applied per dir BEFORE the
        drop — that is where directory pruning happens."""
        from pyspark.sql import functions as F

        opt = str(meta.get("merge_schema", False)).lower()

        def one(paths):
            df = self.spark.read.option("mergeSchema", opt).parquet(*paths)
            if pfilter is not None:
                df = df.where(pfilter)
            if with_pos:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
            return df.drop(*[c for c in df.columns if c.startswith("__p_")])

        dirs = meta["data_dirs"]
        if meta.get("partition_spec") and len(dirs) > 1:
            out = one([dirs[0]])
            for d in dirs[1:]:
                out = out.unionByName(one([d]), allowMissingColumns=True)
            return out
        return one(dirs)

    def _read_with_pos(self, meta: dict) -> DataFrame:
        """Current rows of a snapshot plus their physical identity
        (__fp, __ri) = (file path, row index), deletes already applied."""
        return self._apply_deletes(self._read_base(meta, with_pos=True), meta)

    def delete_where(self, table: str, condition: str) -> dict:
        """Iceberg-v2-style positional delete: rows matching ``condition``
        are tombstoned as (file_path, row_index) pairs in a DELETE FILE —
        no data file is rewritten.  The new snapshot shares every data dir
        with its parent and carries one more delete dir; time travel to the
        parent still sees the rows.

        Why it matters at 10^12 docs: a GDPR/dedup purge touching 0.001% of
        rows must not rewrite 100 TB.  Scans apply the vectors as a
        broadcast anti-join on physical row identity (exact, no key columns
        needed); `compact()` materializes them away when they accumulate.
        """
        meta = self.current_snapshot(table)
        if meta is None:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        live = self._read_with_pos(meta)
        hits = live.where(condition).selectExpr(
            "__fp as file_path", "__ri as row_index"
        )
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        del_dir = os.path.join(self.root, table, "deletes", snap_id)
        hits.write.mode("overwrite").parquet(del_dir)
        n = self.spark.read.parquet(del_dir).count()
        new_meta = {
            **{k: meta[k] for k in ("schema", "merge_schema", "partition_spec") if k in meta},
            "snapshot_id": snap_id,
            "sequence": meta["sequence"] + 1,
            "mode": "delete",
            "data_dirs": meta["data_dirs"],
            "delete_dirs": meta.get("delete_dirs", []) + [del_dir],
            "eq_deletes": meta.get("eq_deletes", []),
            "data_seq": self._dir_seq(meta),
            "committed_at_ms": int(time.time() * 1000),
        }
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(new_meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"v{new_meta['sequence']:09d}.json")
        )
        return {"snapshot_id": snap_id, "n_deleted": n}

    def delete_keys(self, table: str, keys: DataFrame) -> dict:
        """Iceberg-v2-style EQUALITY delete: every live row whose key columns
        match a row of ``keys`` is masked — without scanning the data at
        all.  Complements `delete_where` (positional): positional deletes
        pay one full scan to pin (file, row) pairs; equality deletes pay
        nothing at write time and a broadcast anti-join at read time, the
        right trade when the delete is keyed (GDPR by user_id, dedup by
        doc_id) and the table is 100 TB.

        Sequence-scoped: the delete masks only data committed BEFORE it —
        a later append may legitimately re-insert the key.  `compact()`
        materializes equality deletes away like positional ones.
        """
        meta = self.current_snapshot(table)
        if meta is None:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        cols = list(keys.columns)
        if meta.get("schema"):
            known = {f["name"] for f in meta["schema"]["fields"]}
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"equality-delete columns not in table schema: {bad}")
        seq = meta["sequence"] + 1
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        eq_dir = os.path.join(self.root, table, "eq_deletes", snap_id)
        keys.distinct().write.mode("overwrite").parquet(eq_dir)
        n_keys = self.spark.read.parquet(eq_dir).count()
        new_meta = {
            **{k: meta[k] for k in ("schema", "merge_schema", "partition_spec") if k in meta},
            "snapshot_id": snap_id,
            "sequence": seq,
            "mode": "eq_delete",
            "data_dirs": meta["data_dirs"],
            "delete_dirs": meta.get("delete_dirs", []),
            "eq_deletes": meta.get("eq_deletes", [])
            + [{"dir": eq_dir, "seq": seq, "cols": cols}],
            "data_seq": self._dir_seq(meta),
            "committed_at_ms": int(time.time() * 1000),
        }
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(new_meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"v{seq:09d}.json")
        )
        return {"snapshot_id": snap_id, "n_keys": n_keys}

    def merge_into(
        self,
        source: DataFrame,
        table: str,
        key_cols: list[str],
        when_matched: str = "update",
    ) -> dict:
        """MERGE INTO, merge-on-read (Iceberg v2 shape): ONE atomic snapshot
        that (a) equality-tombstones the source keys against all older data
        and (b) appends the surviving source rows as a new data dir.

        * ``when_matched='update'``: upsert — every source row is appended;
          older rows with the same key are masked by the delete.
        * ``when_matched='delete'``: matched keys vanish; only source rows
          whose key was NOT present are appended (insert-or-delete).

        No data file is rewritten or even read at write time for 'update'
        (the delete is equality-scoped, sequence N masks only < N, and the
        appended dir carries sequence N) — at 10^12 rows a MERGE costs the
        size of the SOURCE, not the table.  'delete' pays one key-project
        scan of the target to split matched from unmatched source keys.
        """
        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        meta = self.current_snapshot(table)
        if meta is None:
            snap = self.commit(source, table, mode="overwrite")
            n = self.read(table).count()
            return {"snapshot_id": snap, "n_appended": n, "created": True}
        src = source.dropDuplicates(key_cols)
        seq = meta["sequence"] + 1
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        eq_dir = os.path.join(self.root, table, "eq_deletes", snap_id)
        src.select(*key_cols).distinct().write.mode("overwrite").parquet(eq_dir)
        data_dir = os.path.join(self.root, table, "snapshots", snap_id)
        if when_matched == "update":
            to_append = src
        else:
            live_keys = self._df_from_meta(meta).select(*key_cols).distinct()
            to_append = src.join(live_keys, key_cols, "left_anti")
        self._write_data_dir(to_append, data_dir, meta.get("partition_spec"))
        n_appended = self.spark.read.parquet(data_dir).count()
        new_meta = {
            **{k: meta[k] for k in ("schema", "merge_schema", "partition_spec") if k in meta},
            "snapshot_id": snap_id,
            "sequence": seq,
            "mode": "merge",
            "data_dirs": meta["data_dirs"] + [data_dir],
            "delete_dirs": meta.get("delete_dirs", []),
            "eq_deletes": meta.get("eq_deletes", [])
            + [{"dir": eq_dir, "seq": seq, "cols": list(key_cols)}],
            "data_seq": {**self._dir_seq(meta), data_dir: seq},
            "committed_at_ms": int(time.time() * 1000),
        }
        tmp = os.path.join(self._meta_dir(table), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(new_meta, fh)
        os.replace(
            tmp, os.path.join(self._meta_dir(table), f"v{seq:09d}.json")
        )
        return {"snapshot_id": snap_id, "n_appended": n_appended}

    # -- retention ----------------------------------------------------------
    def history(self, table: str) -> DataFrame:
        """Iceberg `table.history`/`table.snapshots` metadata table: one row
        per committed snapshot (id, sequence, mode, commit time, dir/delete
        counts) — driver-side metadata only, no data read."""
        rows = [
            (
                m["snapshot_id"],
                int(m["sequence"]),
                m.get("mode", ""),
                int(m.get("committed_at_ms", 0)),
                len(m["data_dirs"]),
                len(m.get("delete_dirs", [])) + len(m.get("eq_deletes", [])),
            )
            for m in self.snapshots(table)
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id: string, sequence: long, mode: string, "
            "committed_at_ms: long, n_data_dirs: int, n_delete_files: int",
        )

    def files(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        """Iceberg `table.files` metadata table: one row per live data file
        (path, rows, bytes) from parquet footers — no Spark job, no data
        read.  Positional/equality tombstones are not subtracted here (this
        lists PHYSICAL files; `count_rows` nets deletes out)."""
        import pyarrow.parquet as pq

        meta = self._pin(table, snapshot_id)
        rows = []
        for dirpath in meta["data_dirs"]:
            for root, _dirs, fs in os.walk(dirpath):
                for f in sorted(fs):
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        rows.append(
                            (p, pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
                        )
        return self.spark.createDataFrame(
            rows, "file_path: string, row_count: long, size_bytes: long"
        )

    def remove_orphans(self, table: str) -> dict:
        """Iceberg `removeOrphanFiles`: delete directories under the table's
        storage that NO snapshot (committed, staged, branch/tag-pinned)
        references — the debris of writers that crashed after writing data
        but before the atomic metadata rename.  Such dirs are invisible to
        every reader, so deleting them can never change a query result; the
        expire crash-window note relies on this being re-runnable.
        """
        import shutil

        referenced: set[str] = set()
        for m in self.snapshots(table) + self.staged_snapshots(table):
            referenced.update(m["data_dirs"] + m.get("delete_dirs", []))
            referenced.update(e["dir"] for e in m.get("eq_deletes", []))
        for r in self.refs(table).values():
            m = r["meta"]
            referenced.update(m["data_dirs"] + m.get("delete_dirs", []))
            referenced.update(e["dir"] for e in m.get("eq_deletes", []))
        dropped = 0
        for sub in ("snapshots", "deletes", "eq_deletes"):
            base = os.path.join(self.root, table, sub)
            if not os.path.isdir(base):
                continue
            for name in sorted(os.listdir(base)):
                p = os.path.join(base, name)
                if os.path.isdir(p) and p not in referenced:
                    shutil.rmtree(p, ignore_errors=True)
                    dropped += 1
        return {"orphan_dirs_removed": dropped, "referenced_dirs": len(referenced)}

    def expire_snapshots(self, table: str, keep_last: int = 1) -> dict:
        """Iceberg-style `expireSnapshots`: drop all but the newest
        ``keep_last`` snapshot versions and DELETE data directories no
        longer referenced by any surviving snapshot.

        Metadata-only decision, file-system deletion after: the surviving
        metadata jsons are untouched (time travel within the retained window
        keeps working), expired version files are removed first so a crash
        between the two steps leaves only unreferenced-but-present data
        (safe: re-running completes the cleanup; readers never see a
        snapshot whose files were deleted).
        """
        import shutil

        vs = self._versions(table)
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        expired, survivors = vs[:-keep_last], vs[-keep_last:]
        keep_dirs: set[str] = set()
        for v in survivors:
            with open(os.path.join(self._meta_dir(table), v)) as fh:
                m = json.load(fh)
                keep_dirs.update(m["data_dirs"] + m.get("delete_dirs", []))
        # named refs (tags, branch heads) are retention-protected: their data
        # stays addressable regardless of the keep_last window
        for r in self.refs(table).values():
            m = r["meta"]
            keep_dirs.update(m["data_dirs"] + m.get("delete_dirs", []))
        drop_dirs: set[str] = set()
        for v in expired:
            path = os.path.join(self._meta_dir(table), v)
            with open(path) as fh:
                m = json.load(fh)
                drop_dirs.update(m["data_dirs"] + m.get("delete_dirs", []))
            os.remove(path)
        drop_dirs -= keep_dirs
        for d in sorted(drop_dirs):
            shutil.rmtree(d, ignore_errors=True)
        return {
            "expired_versions": len(expired),
            "deleted_dirs": len(drop_dirs),
            "surviving_versions": len(survivors),
        }

    # -- compaction ---------------------------------------------------------
    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        layout_col: str | None = None,
    ) -> dict:
        """Iceberg-style `rewriteDataFiles`: bin-pack the current snapshot's
        accumulated small files (one dir per append) into ~target-size files
        and commit the rewrite as a new overwrite snapshot.

        Why it matters at 10^12 docs: a streaming/micro-batch append path
        produces one small dir per commit; scan cost and driver planning
        degrade with file count, not byte count.  Compaction pays one
        bounded rewrite to restore scan efficiency; older snapshots keep
        their original files (time travel intact) until `expire_snapshots`.

        * no ``layout_col``: `coalesce(n)` — a shuffle-free narrow rewrite.
        * with ``layout_col`` (e.g. a Z-order key): `repartitionByRange` +
          `sortWithinPartitions` — one shuffle buying range-clustered files
          whose min/max stats prune future scans.
        * idempotent no-op when the table is already one compacted dir.
        """
        meta = self.current_snapshot(table)
        if meta is None:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        n_bytes = 0
        n_files = 0
        for d in meta["data_dirs"]:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(root, f))
        n_out = max(1, -(-n_bytes // target_file_bytes))  # ceil
        if (len(meta["data_dirs"]) == 1 and meta.get("compaction_of")
                and not meta.get("delete_dirs") and not meta.get("eq_deletes")
                and n_files <= n_out):
            return {"compacted": False, "n_files": n_files, "snapshot_id": meta["snapshot_id"]}
        df = self.read(table)
        if layout_col is not None:
            from pyspark.sql import functions as F

            df = df.repartitionByRange(n_out, F.col(layout_col)).sortWithinPartitions(
                layout_col
            )
        else:
            df = df.coalesce(n_out)
        snap_id = self.commit(
            df, table, mode="overwrite",
            extra_meta={"compaction_of": meta["snapshot_id"]},
        )
        return {
            "compacted": True,
            "in_files": n_files,
            "in_dirs": len(meta["data_dirs"]),
            "out_files": n_out,
            "snapshot_id": snap_id,
        }

    # -- file statistics / scan pruning --------------------------------------
    def collect_file_stats(
        self, table: str, cols: list[str], snapshot_id: str | None = None
    ) -> dict:
        """Iceberg-manifest-style per-FILE column statistics: one aggregate
        job records min/max/row-count of ``cols`` for every data file of the
        snapshot, persisted as a stats sidecar
        (``<table>/stats/<snapshot_id>.json``, atomic rename).

        Why it matters at 10^12 docs: predicate-pruning at the FILE level is
        the difference between opening 10^6 footers and opening the ~10²
        whose [min,max] can overlap the query box — this is what a Z-order /
        Hilbert write layout buys at read time.  The stats job itself is one
        map-side-combined groupBy over physical file identity."""
        from pyspark.sql import functions as F

        meta = self._pin(table, snapshot_id)
        df = self.spark.read.option(
            "mergeSchema", str(meta.get("merge_schema", False)).lower()
        ).parquet(*meta["data_dirs"])
        aggs = [F.count("*").alias("__n")]
        for c in cols:
            aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
        rows = (
            df.groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(*aggs)
            .collect()
        )
        stats = {
            r["__fp"]: {
                "n_rows": r["__n"],
                **{c: [r[f"min__{c}"], r[f"max__{c}"]] for c in cols},
            }
            for r in rows
        }
        out = {"snapshot_id": meta["snapshot_id"], "cols": cols, "files": stats}
        sdir = os.path.join(self.root, table, "stats")
        os.makedirs(sdir, exist_ok=True)
        tmp = os.path.join(sdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, os.path.join(sdir, f"{meta['snapshot_id']}.json"))
        return out

    def _pin(self, table: str, snapshot_id: str | None) -> dict:
        meta = (
            self.current_snapshot(table)
            if snapshot_id is None
            else next(
                (
                    m
                    for m in self.snapshots(table) + self.staged_snapshots(table)
                    if m["snapshot_id"] == snapshot_id
                ),
                None,
            )
        )
        if meta is None:
            raise FileNotFoundError(f"table {table!r} snapshot {snapshot_id!r} not found")
        return meta

    def prune_files(
        self,
        table: str,
        col: str,
        lo,
        hi,
        snapshot_id: str | None = None,
    ) -> tuple[list[str], int]:
        """(matching_files, total_files) for the closed range lo <= col <= hi,
        decided purely from the stats sidecar (computed on first use).  A
        file with null stats for ``col`` (all-null or missing) can never be
        ruled out and is always scanned — pruning is conservative."""
        meta = self._pin(table, snapshot_id)
        spath = os.path.join(self.root, table, "stats", f"{meta['snapshot_id']}.json")
        stats = None
        if os.path.exists(spath):
            with open(spath) as fh:
                stats = json.load(fh)
        if stats is None or col not in stats["cols"]:
            stats = self.collect_file_stats(
                table, [col], snapshot_id=meta["snapshot_id"]
            )
        keep = []
        for fp, s in stats["files"].items():
            mn, mx = s[col]
            if mn is None or mx is None or not (hi < mn or lo > mx):
                keep.append(fp)
        return sorted(keep), len(stats["files"])

    def scan(
        self,
        table: str,
        col: str,
        lo,
        hi,
        snapshot_id: str | None = None,
    ) -> DataFrame:
        """Range scan with file skipping: reads ONLY the files whose
        [min,max] can overlap ``lo <= col <= hi`` (prune_files), then applies
        the exact predicate; positional delete vectors still apply.  Returns
        the same rows as ``read(...).where(between)`` — the pruning is
        metadata-only and conservative."""
        from pyspark.sql import functions as F

        meta = self._pin(table, snapshot_id)
        files, _total = self.prune_files(table, col, lo, hi, meta["snapshot_id"])
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if not files:
            return self.read(table, meta["snapshot_id"]).where(F.lit(False))
        df = self.spark.read.option(
            "mergeSchema", str(meta.get("merge_schema", False)).lower()
        ).parquet(*files)
        if meta.get("delete_dirs") or meta.get("eq_deletes"):
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )
            df = self._apply_deletes(df, meta).drop("__fp", "__ri")
        return df.where(pred)

    def scan_partitions(self, table: str, col: str, value, snapshot_id: str | None = None) -> DataFrame:
        """Equality read pruned by HIDDEN partitioning: the predicate is on
        the SOURCE column; the catalog translates it through the table's
        partition transform (driver-side replica of the SQL expression) and
        filters on the derived directory column — Spark's scan then lists
        only the matching partition directories (PartitionFilters in the
        plan), never touching the rest of the layout.  Falls back to a plain
        filter when the column is not partition-driving.  Positional and
        equality deletes still apply."""
        from pyspark.sql import functions as F

        meta = self._pin(table, snapshot_id)
        spec = next(
            (s for s in (meta.get("partition_spec") or []) if s["col"] == col), None
        )
        if spec is None:
            return self.read(table, meta["snapshot_id"]).where(F.col(col) == F.lit(value))
        pv = self.partition_value(spec, value)
        df = self._read_base(
            meta, with_pos=True, pfilter=(F.col(self._pname(spec)) == F.lit(pv))
        )
        return (
            self._apply_deletes(df, meta)
            .drop("__fp", "__ri")
            .where(F.col(col) == F.lit(value))
        )

    def count_rows(self, table: str, snapshot_id: str | None = None) -> int:
        """Metadata-only COUNT(*): summed parquet-footer row counts (no Spark
        job, no data read), minus the positional tombstones (their (file,
        row) pairs are disjoint by construction — delete_where only pins
        LIVE rows).  Equality deletes cannot be counted from metadata, so
        their presence falls back to the exact scan."""
        import pyarrow.parquet as pq

        meta = self._pin(table, snapshot_id)
        if meta.get("eq_deletes"):
            return self.read(table, meta["snapshot_id"]).count()
        total = 0
        for d in meta["data_dirs"]:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for d in meta.get("delete_dirs", []):
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        total -= pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    def changes(
        self, table: str, from_snapshot_id: str, to_snapshot_id: str | None = None
    ) -> DataFrame:
        """Incremental read (CDC feed): NET row changes between two
        snapshots, tagged ``_change_type`` ∈ {'insert', 'delete'}, decided by
        physical row identity (file, row index) — no key columns needed.

        Cost is proportional to the CHANGE, not the table: inserts scan only
        the data dirs added in the window (rows both appended and deleted
        inside it drop out — net semantics); deletes scan only (a) dirs
        removed by an overwrite, (b) carried rows hit by window-new
        positional vectors (broadcast semi-join), (c) carried rows hit by
        window-new equality tombstones.  An overwrite/compaction in the
        window therefore surfaces as full delete+insert of the rewritten
        rows — physical-identity CDC is honest about rewrites (Iceberg's
        append-only incremental scan refuses such windows instead)."""
        from pyspark.sql import functions as F

        m_from = self._pin(table, from_snapshot_id)
        m_to = self._pin(table, to_snapshot_id)
        if m_to["sequence"] < m_from["sequence"]:
            raise ValueError("to-snapshot precedes from-snapshot")
        carried = [d for d in m_from["data_dirs"] if d in m_to["data_dirs"]]
        new_dirs = [d for d in m_to["data_dirs"] if d not in m_from["data_dirs"]]
        removed = [d for d in m_from["data_dirs"] if d not in m_to["data_dirs"]]

        parts = []
        if new_dirs:
            ins = self._read_with_pos({**m_to, "data_dirs": new_dirs})
            parts.append(ins.withColumn("_change_type", F.lit("insert")))
        dels = []
        if removed:
            dels.append(self._read_with_pos({**m_from, "data_dirs": removed}))
        if carried:
            f_car = self._read_with_pos({**m_from, "data_dirs": carried})
            new_vec = [
                d for d in m_to.get("delete_dirs", [])
                if d not in m_from.get("delete_dirs", [])
            ]
            if new_vec:
                dv = self.spark.read.parquet(*new_vec)
                dels.append(
                    f_car.join(
                        F.broadcast(dv),
                        (f_car["__fp"] == dv["file_path"])
                        & (f_car["__ri"] == dv["row_index"]),
                        "left_semi",
                    )
                )
            old_eqs = {json.dumps(e, sort_keys=True) for e in m_from.get("eq_deletes", [])}
            new_eqs = [
                e for e in m_to.get("eq_deletes", [])
                if json.dumps(e, sort_keys=True) not in old_eqs
            ]
            if new_eqs:
                seq_expr = None
                for d, s in self._dir_seq(m_from).items():
                    cond = F.col("__fp").contains(d.rstrip("/") + "/")
                    seq_expr = (
                        F.when(cond, F.lit(s)) if seq_expr is None
                        else seq_expr.when(cond, F.lit(s))
                    )
                f_seq = f_car.withColumn("__seq", F.coalesce(seq_expr, F.lit(0)))
                for e in new_eqs:
                    keys = (
                        self.spark.read.parquet(e["dir"])
                        .select(*[F.col(c).alias(f"__k_{c}") for c in e["cols"]])
                        .distinct()
                    )
                    cond = F.col("__seq") < F.lit(int(e["seq"]))
                    for c in e["cols"]:
                        cond = cond & f_seq[c].eqNullSafe(F.col(f"__k_{c}"))
                    dels.append(
                        f_seq.join(F.broadcast(keys), cond, "left_semi").drop("__seq")
                    )
        if dels:
            all_dels = dels[0]
            for d in dels[1:]:
                all_dels = all_dels.unionByName(d)
            parts.append(
                all_dels.dropDuplicates(["__fp", "__ri"]).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        if not parts:
            empty = self._df_from_meta(m_to).limit(0)
            return empty.withColumn("_change_type", F.lit(""))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.drop("__fp", "__ri")

    # -- read ---------------------------------------------------------------
    def snapshot_as_of(self, table: str, ts_ms: int) -> dict:
        """Iceberg time travel by TIMESTAMP: the latest COMMITTED snapshot
        whose commit time is <= ts_ms (`FOR SYSTEM_TIME AS OF`).  Staged
        (pre-publish) snapshots are never visible to time travel — only an
        explicit snapshot-id pin reads a WAP candidate."""
        cands = [
            m
            for m in self.snapshots(table)
            if int(m.get("committed_at_ms", 0)) <= int(ts_ms)
        ]
        if not cands:
            raise FileNotFoundError(
                f"table {table!r} has no snapshot at or before {ts_ms}"
            )
        return max(cands, key=lambda m: (int(m["sequence"])))

    def read_as_of(self, table: str, ts_ms: int) -> DataFrame:
        """Read the table as of a wall-clock commit time (time travel by
        timestamp — the audit/debug form of `read(snapshot_id=...)`)."""
        return self._df_from_meta(self.snapshot_as_of(table, ts_ms))

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        """Read the table pinned at a snapshot (default: current)."""
        if snapshot_id is None:
            meta = self.current_snapshot(table)
        else:
            # explicit pins may target staged (pre-publish) snapshots: that is
            # how a WAP audit reads its candidate
            cands = self.snapshots(table) + self.staged_snapshots(table)
            meta = next(
                (m for m in cands if m["snapshot_id"] == snapshot_id), None
            )
        if meta is None:
            raise FileNotFoundError(f"table {table!r} snapshot {snapshot_id!r} not found")
        return self._df_from_meta(meta)

    def _df_from_meta(self, meta: dict) -> DataFrame:
        if meta.get("delete_dirs") or meta.get("eq_deletes"):
            return self._read_with_pos(meta).drop("__fp", "__ri")
        return self._read_base(meta, with_pos=False)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key.

    Bucketing is THE 100 TB co-location strategy: two tables bucketed by the
    same key into the same bucket count join with ZERO exchange — the
    shuffle is paid once at write time and amortized over every subsequent
    join/aggregation on that key (cell_id for the spatial indexes, doc_id
    for dedup artifacts).  Uses the session catalog's managed-table path
    (`saveAsTable` — bucketing metadata does not survive a bare
    `.parquet(path)` write).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
