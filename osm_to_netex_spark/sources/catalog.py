"""Snapshot catalog: Iceberg-style table semantics on plain parquet.

The design point is an Iceberg warehouse (north rule: "over Iceberg tables …
resumable from checkpoint with per-partition lineage"), but this container
ships no Iceberg runtime jars, so the catalog implements the same *semantics*
— atomic snapshot commits, snapshot pinning, time travel, append/overwrite —
on a directory layout:

    <root>/<table>/
        snapshots/<snapshot_id>/part-*.parquet    (immutable data files)
        deletes/<snapshot_id>/                    (positional delete vectors)
        eq_deletes/<snapshot_id>/                 (equality-delete key lists)
        _meta/v<sequence>.json                    (committed snapshot log)
        _meta/staged-<snapshot_id>.json           (write-audit-publish candidates)
        _refs/<name>.json                         (branch and tag heads)
        stats/<snapshot_id>.json                  (per-file column statistics)

Every metadata file is written to a tmp file and renamed into place, so a
crash never exposes a torn one.  A snapshot's metadata describes its data in
full; no reader follows a parent pointer:

    snapshot_id      "<ms>-<8 hex>", also the name of the dirs it wrote
    sequence         commit order on main (staged/branch: parent's + 1)
    mode             append | overwrite | delete | eq_delete | merge
    data_dirs        every data dir of the snapshot, oldest first
    delete_dirs      positional delete-vector dirs that apply to them
    eq_deletes       [{dir, seq, cols}] equality deletes, each masking key
                     matches in data committed before its seq
    data_seq         data dir -> sequence at which it was added
    partition_spec   hidden-partitioning transforms, or null
    schema           Spark schema JSON of the latest write
    merge_schema     whether reads must merge parquet footers
    committed_at_ms  commit wall-clock time

plus ``staged: true`` on a staged snapshot, ``branch`` on a branch commit
and whatever ``extra_meta`` a caller of `commit` adds.  An append, a delete
and a merge carry everything of their parent and add their own delta; an
overwrite carries nothing.  Every commit writes parquet; there is no Iceberg
delegation.  Readers always pin a snapshot id first, so concurrent appends
never tear a read — the property the resume/lineage plan (plans.lineage)
relies on.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import time
import uuid
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- metadata -----------------------------------------------------------
    def _meta_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_meta")

    def _version_path(self, table: str, sequence: int) -> str:
        return os.path.join(self._meta_dir(table), f"v{sequence:09d}.json")

    def _staged_path(self, table: str, snap_id: str) -> str:
        return os.path.join(self._meta_dir(table), f"staged-{snap_id}.json")

    @staticmethod
    def _read_json(path: str) -> dict:
        with open(path) as fh:
            return json.load(fh)

    @staticmethod
    def _write_json(path: str, obj: dict) -> None:
        """Atomic publish: write a tmp file beside ``path``, then rename it
        over ``path`` — readers see the old file or the new, never a torn
        one."""
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)

    @staticmethod
    def _new_snapshot_id() -> str:
        return f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"

    def _versions(self, table: str) -> list[str]:
        d = self._meta_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.startswith("v") and f.endswith(".json"))

    def current_snapshot(self, table: str) -> dict | None:
        vs = self._versions(table)
        if not vs:
            return None
        return self._read_json(os.path.join(self._meta_dir(table), vs[-1]))

    def snapshots(self, table: str) -> list[dict]:
        return [
            self._read_json(os.path.join(self._meta_dir(table), v))
            for v in self._versions(table)
        ]

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
            h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
            return h % int(spec["n"])
        if t == "truncate":
            return (int(value) // int(spec["n"])) * int(spec["n"])
        if t == "day":
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
        partitioning — EVERY write path must derive the __p_* directory
        columns the same way, or a later scan_partitions directory filter
        hits a dir lacking the derived column."""
        if partition_spec:
            out = df
            pnames = []
            for spec in partition_spec:
                pn = self._pname(spec)
                out = out.withColumn(pn, F.expr(self._partition_col_expr(spec)))
                pnames.append(pn)
            out.write.mode("overwrite").partitionBy(*pnames).parquet(data_dir)
        else:
            df.write.mode("overwrite").parquet(data_dir)

    # -- snapshot builder ---------------------------------------------------
    def _child(
        self,
        table: str,
        prev: dict | None,
        mode: str,
        df: DataFrame | None = None,
        carry: bool = True,
        partition_spec: list[dict] | None = None,
    ) -> dict:
        """Metadata of a new snapshot one sequence after ``prev``, the one
        decision every commit path shares.  With ``carry`` it inherits all
        of ``prev``'s data: data and delete dirs, equality deletes, their
        sequences, the partition spec, the schema and its merge flag.  An
        explicit ``partition_spec`` must then equal the active one (a spec
        change needs an overwrite — partition-spec evolution on carried
        files is out of scope; Iceberg proper tracks per-file specs).

        ``df``, if given, is written as the snapshot's own data dir at its
        sequence, under the spec, after the schema-evolution check against
        the carried schema.  Callers add their own delta to the result and
        publish it with `_write_json`."""
        carried = prev if carry else None
        if carried is not None:
            active = carried.get("partition_spec")
            if partition_spec is None:
                partition_spec = active
            elif json.dumps(partition_spec, sort_keys=True) != json.dumps(
                active, sort_keys=True
            ):
                raise ValueError(
                    "append must reuse the table's partition spec; "
                    "overwrite to change it"
                )
        meta = {
            "snapshot_id": self._new_snapshot_id(),
            "sequence": prev["sequence"] + 1 if prev else 0,
            "mode": mode,
            "data_dirs": list(carried["data_dirs"]) if carried else [],
            "delete_dirs": list(carried.get("delete_dirs", [])) if carried else [],
            "eq_deletes": list(carried.get("eq_deletes", [])) if carried else [],
            "data_seq": self._dir_seq(carried) if carried else {},
            "partition_spec": partition_spec,
            "schema": carried.get("schema") if carried else None,
            "merge_schema": bool(carried and carried.get("merge_schema")),
            "committed_at_ms": int(time.time() * 1000),
        }
        if df is not None:
            if meta["schema"]:
                meta["merge_schema"] = self._check_evolution(meta, df) or meta["merge_schema"]
            data_dir = os.path.join(self.root, table, "snapshots", meta["snapshot_id"])
            self._write_data_dir(df, data_dir, partition_spec)
            meta["data_dirs"].append(data_dir)
            meta["data_seq"][data_dir] = meta["sequence"]
            meta["schema"] = json.loads(df.schema.json())
        return meta

    def _rebase(
        self, table: str, meta: dict, own: list[str], cur: dict | None, carry: bool
    ) -> dict:
        """``meta`` as main's next version after ``cur`` — what `publish` and
        `fast_forward` write.  Its own data dirs ``own`` land at the new
        sequence; with ``carry`` (``meta`` appended to its parent) they land
        on top of everything ``cur`` holds, so what main committed since
        ``meta`` was built stays in.  Staged and branch commits add no
        deletes of their own, so everything else comes from ``cur``."""
        out = self._child(
            table, cur, meta["mode"], carry=carry,
            partition_spec=meta.get("partition_spec"),
        )
        out["data_dirs"] += own
        out["data_seq"].update({d: out["sequence"] for d in own})
        out["merge_schema"] = bool(meta.get("merge_schema") or out["merge_schema"])
        return {
            **meta, **out,
            "snapshot_id": meta["snapshot_id"],
            "schema": meta.get("schema"),
        }

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
        SOURCE column.  Appends must reuse the table's active spec."""
        meta = self._child(
            table, self.current_snapshot(table), mode, df,
            carry=mode == "append", partition_spec=partition_spec,
        )
        meta = {**(extra_meta or {}), **meta}
        self._write_json(self._version_path(table, meta["sequence"]), meta)
        return meta["snapshot_id"]

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
        old = {f["name"]: json.dumps(f["type"], sort_keys=True)
               for f in prev["schema"]["fields"]}
        new = {f["name"]: json.dumps(f["type"], sort_keys=True)
               for f in json.loads(df.schema.json())["fields"]}
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
        meta = self._child(
            table, self.current_snapshot(table), mode, df, carry=mode == "append"
        )
        meta["staged"] = True
        self._write_json(self._staged_path(table, meta["snapshot_id"]), meta)
        return meta["snapshot_id"]

    def publish(self, table: str, snap_id: str) -> None:
        """WAP step 3: atomically promote an audited staged snapshot.

        The staged meta becomes the next version file via one rename; it is
        re-based on main at publish time (sequence, and for an append the
        data and deletes published meanwhile), so staged snapshots can be
        audited (and abandoned) in any order."""
        path = self._staged_path(table, snap_id)
        if not os.path.exists(path):
            raise FileNotFoundError(f"no staged snapshot {snap_id!r} for {table!r}")
        meta = self._read_json(path)
        meta = self._rebase(
            table, meta, meta["data_dirs"][-1:], self.current_snapshot(table),
            carry=meta["mode"] == "append",
        )
        meta.pop("staged")
        self._write_json(self._version_path(table, meta["sequence"]), meta)
        os.remove(path)

    def abandon(self, table: str, snap_id: str) -> None:
        """Drop a staged snapshot that failed its audit: meta first, then the
        (never-visible) data dir."""
        path = self._staged_path(table, snap_id)
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
        return [
            self._read_json(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.startswith("staged-") and f.endswith(".json")
        ]

    # -- branches & tags ------------------------------------------------------
    def _refs_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_refs")

    def _write_ref(self, table: str, name: str, ref: dict) -> None:
        self._write_json(os.path.join(self._refs_dir(table), f"{name}.json"), ref)

    def _read_ref_meta(self, table: str, name: str) -> dict:
        path = os.path.join(self._refs_dir(table), f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no ref {name!r} on table {table!r}")
        return self._read_json(path)

    def refs(self, table: str) -> dict:
        d = self._refs_dir(table)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".json") and not f.startswith("."):
                r = self._read_json(os.path.join(d, f))
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
        moved and never sees the branch lineage.  Same append/overwrite,
        partition-spec and schema-evolution semantics as `commit`."""
        ref = self._read_ref_meta(table, name)
        if ref["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag; tags are immutable")
        meta = self._child(table, ref["meta"], mode, df, carry=mode == "append")
        meta["branch"] = name
        ref["snapshot_id"] = meta["snapshot_id"]
        ref["meta"] = meta
        self._write_ref(table, name, ref)
        return meta["snapshot_id"]

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
        head = ref["meta"]
        own = [d for d in head["data_dirs"] if d not in cur["data_dirs"]]
        meta = self._rebase(table, head, own, cur, carry=len(own) < len(head["data_dirs"]))
        self._write_json(self._version_path(table, meta["sequence"]), meta)
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

    def _pos_delete_join(self, df: DataFrame, delete_dirs: list[str], how: str) -> DataFrame:
        """``df`` (rows carrying __fp, __ri) joined ``how`` to the positional
        delete vectors in ``delete_dirs``, the small side broadcast."""
        dv = self.spark.read.parquet(*delete_dirs)
        return df.join(
            F.broadcast(dv),
            (df["__fp"] == dv["file_path"]) & (df["__ri"] == dv["row_index"]),
            how,
        )

    def _eq_delete_join(
        self, df: DataFrame, meta: dict, eqs: list[dict], how: str
    ) -> DataFrame:
        """``df`` (rows of ``meta``'s data dirs carrying __fp) joined ``how``
        to the equality deletes ``eqs``, sequence-scoped (Iceberg v2): a
        delete at sequence S matches key-equal rows only in files committed
        at sequence < S.  'left_anti' chains the joins (rows no delete
        masks), 'left_semi' unions them (rows some delete masks); each join
        broadcasts the small key side."""
        seq_expr = None
        for d, s in self._dir_seq(meta).items():
            cond = F.col("__fp").contains(d.rstrip("/") + "/")
            seq_expr = (
                F.when(cond, F.lit(s)) if seq_expr is None
                else seq_expr.when(cond, F.lit(s))
            )
        df = df.withColumn("__seq", F.coalesce(seq_expr, F.lit(0)))
        joined: list[DataFrame] = []
        for e in eqs:
            src = joined[-1] if joined and how == "left_anti" else df
            keys = (
                self.spark.read.parquet(e["dir"])
                .select(*[F.col(c).alias(f"__k_{c}") for c in e["cols"]])
                .distinct()
            )
            cond = F.col("__seq") < F.lit(int(e["seq"]))
            for c in e["cols"]:
                cond = cond & src[c].eqNullSafe(F.col(f"__k_{c}"))
            joined.append(src.join(F.broadcast(keys), cond, how))
        out = joined[-1] if how == "left_anti" else reduce(DataFrame.unionByName, joined)
        return out.drop("__seq")

    def _apply_deletes(self, df: DataFrame, meta: dict) -> DataFrame:
        """Apply positional delete vectors then equality deletes to rows
        carrying (__fp, __ri) physical identity.  Rows appended by the
        same or a later snapshot than an equality delete (e.g. a MERGE's
        own upserts) stay alive; the data side never shuffles."""
        if meta.get("delete_dirs"):
            df = self._pos_delete_join(df, meta["delete_dirs"], "left_anti")
        if meta.get("eq_deletes"):
            df = self._eq_delete_join(df, meta, meta["eq_deletes"], "left_anti")
        return df

    def _read_base(
        self, meta: dict, with_pos: bool, pfilter=None, files: list[str] | None = None
    ) -> DataFrame:
        """Raw rows of a snapshot's data dirs, derived partition columns
        dropped, optional (__fp, __ri) physical identity.  Partitioned
        snapshots are read per-dir and unioned: each append dir is its own
        partition-discovery root (a shared basePath would make the
        snapshot-id level look like a partition), and the spec is enforced
        identical across appends so the union is by name.  ``pfilter`` (a
        predicate on a derived __p_ column) is applied per dir BEFORE the
        drop — that is where directory pruning happens.  ``files`` (paths
        as ``_metadata.file_path`` spells them) restricts the read to those
        files, each still read under its own data dir."""
        opt = str(meta.get("merge_schema", False)).lower()

        def one(paths, base=None):
            reader = self.spark.read.option("mergeSchema", opt)
            if base is not None:
                reader = reader.option("basePath", base)
            df = reader.parquet(*paths)
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
        parts = [([d], d) for d in dirs] if meta.get("partition_spec") else [(dirs, None)]
        if files is not None:
            parts = [
                ([f for f in files if any(d.rstrip("/") + "/" in f for d in ds)], base)
                for ds, base in parts
            ]
        frames = [one(paths, base) for paths, base in parts if paths]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def _read_with_pos(self, meta: dict, files: list[str] | None = None) -> DataFrame:
        """Current rows of a snapshot plus their physical identity
        (__fp, __ri) = (file path, row index), deletes already applied."""
        return self._apply_deletes(self._read_base(meta, with_pos=True, files=files), meta)

    def _current_or_raise(self, table: str) -> dict:
        meta = self.current_snapshot(table)
        if meta is None:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        return meta

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
        prev = self._current_or_raise(table)
        meta = self._child(table, prev, "delete")
        del_dir = os.path.join(self.root, table, "deletes", meta["snapshot_id"])
        self._read_with_pos(prev).where(condition).selectExpr(
            "__fp as file_path", "__ri as row_index"
        ).write.mode("overwrite").parquet(del_dir)
        n = self.spark.read.parquet(del_dir).count()
        meta["delete_dirs"].append(del_dir)
        self._write_json(self._version_path(table, meta["sequence"]), meta)
        return {"snapshot_id": meta["snapshot_id"], "n_deleted": n}

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
        prev = self._current_or_raise(table)
        cols = list(keys.columns)
        if prev.get("schema"):
            known = {f["name"] for f in prev["schema"]["fields"]}
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"equality-delete columns not in table schema: {bad}")
        meta = self._child(table, prev, "eq_delete")
        eq_dir = os.path.join(self.root, table, "eq_deletes", meta["snapshot_id"])
        keys.distinct().write.mode("overwrite").parquet(eq_dir)
        n_keys = self.spark.read.parquet(eq_dir).count()
        meta["eq_deletes"].append({"dir": eq_dir, "seq": meta["sequence"], "cols": cols})
        self._write_json(self._version_path(table, meta["sequence"]), meta)
        return {"snapshot_id": meta["snapshot_id"], "n_keys": n_keys}

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
        prev = self.current_snapshot(table)
        if prev is None:
            snap = self.commit(source, table, mode="overwrite")
            n = self.read(table).count()
            return {"snapshot_id": snap, "n_appended": n, "created": True}
        src = source.dropDuplicates(key_cols)
        if when_matched == "update":
            to_append = src
        else:
            live_keys = self._df_from_meta(prev).select(*key_cols).distinct()
            to_append = src.join(live_keys, key_cols, "left_anti")
        meta = self._child(table, prev, "merge", to_append)
        eq_dir = os.path.join(self.root, table, "eq_deletes", meta["snapshot_id"])
        src.select(*key_cols).distinct().write.mode("overwrite").parquet(eq_dir)
        n_appended = self.spark.read.parquet(meta["data_dirs"][-1]).count()
        meta["eq_deletes"].append(
            {"dir": eq_dir, "seq": meta["sequence"], "cols": list(key_cols)}
        )
        self._write_json(self._version_path(table, meta["sequence"]), meta)
        return {"snapshot_id": meta["snapshot_id"], "n_appended": n_appended}

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

    @staticmethod
    def _parquet_files(dirs: list[str]) -> list[str]:
        """Every parquet file under ``dirs`` (partition subdirs included)."""
        return [
            os.path.join(root, f)
            for d in dirs
            for root, _dirs, fs in os.walk(d)
            for f in sorted(fs)
            if f.endswith(".parquet")
        ]

    def files(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        """Iceberg `table.files` metadata table: one row per live data file
        (path, rows, bytes) from parquet footers — no Spark job, no data
        read.  Positional/equality tombstones are not subtracted here (this
        lists PHYSICAL files; `count_rows` nets deletes out)."""
        meta = self._pin(table, snapshot_id)
        rows = [
            (p, pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
            for p in self._parquet_files(meta["data_dirs"])
        ]
        return self.spark.createDataFrame(
            rows, "file_path: string, row_count: long, size_bytes: long"
        )

    @staticmethod
    def _referenced_dirs(metas: list[dict]) -> set[str]:
        """Every data, delete-vector and equality-delete dir ``metas`` read."""
        out: set[str] = set()
        for m in metas:
            out.update(m["data_dirs"], m.get("delete_dirs", []))
            out.update(e["dir"] for e in m.get("eq_deletes", []))
        return out

    def _pinned_metas(self, table: str) -> list[dict]:
        """Snapshots that outlive any retention window: staged candidates
        (a pending audit reads them) and named refs (tags, branch heads)."""
        return self.staged_snapshots(table) + [r["meta"] for r in self.refs(table).values()]

    def remove_orphans(self, table: str) -> dict:
        """Iceberg `removeOrphanFiles`: delete directories under the table's
        storage that NO snapshot (committed, staged, branch/tag-pinned)
        references — the debris of writers that crashed after writing data
        but before the atomic metadata rename.  Such dirs are invisible to
        every reader, so deleting them can never change a query result; the
        expire crash-window note relies on this being re-runnable.
        """
        referenced = self._referenced_dirs(self.snapshots(table) + self._pinned_metas(table))
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
        ``keep_last`` snapshot versions and DELETE the data, delete-vector
        and equality-delete dirs no longer referenced by any surviving,
        staged or ref-pinned snapshot.

        Metadata-only decision, file-system deletion after: the surviving
        metadata jsons are untouched (time travel within the retained window
        keeps working), expired version files are removed first so a crash
        between the two steps leaves only unreferenced-but-present data
        (safe: re-running completes the cleanup; readers never see a
        snapshot whose files were deleted).
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        paths = [os.path.join(self._meta_dir(table), v) for v in self._versions(table)]
        metas = [self._read_json(p) for p in paths]
        expired, survivors = metas[:-keep_last], metas[-keep_last:]
        keep_dirs = self._referenced_dirs(survivors + self._pinned_metas(table))
        for p in paths[:-keep_last]:
            os.remove(p)
        drop_dirs = self._referenced_dirs(expired) - keep_dirs
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
        meta = self._current_or_raise(table)
        paths = self._parquet_files(meta["data_dirs"])
        n_files = len(paths)
        n_bytes = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, -(-n_bytes // target_file_bytes))  # ceil
        if (len(meta["data_dirs"]) == 1 and meta.get("compaction_of")
                and not meta.get("delete_dirs") and not meta.get("eq_deletes")
                and n_files <= n_out):
            return {"compacted": False, "n_files": n_files, "snapshot_id": meta["snapshot_id"]}
        df = self.read(table)
        if layout_col is not None:
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
        meta = self._pin(table, snapshot_id)
        aggs = [F.count("*").alias("__n")]
        for c in cols:
            aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
        rows = (
            self._read_base(meta, with_pos=True).groupBy("__fp").agg(*aggs).collect()
        )
        stats = {
            r["__fp"]: {
                "n_rows": r["__n"],
                **{c: [r[f"min__{c}"], r[f"max__{c}"]] for c in cols},
            }
            for r in rows
        }
        out = {"snapshot_id": meta["snapshot_id"], "cols": cols, "files": stats}
        self._write_json(
            os.path.join(self.root, table, "stats", f"{meta['snapshot_id']}.json"), out
        )
        return out

    def _pin(self, table: str, snapshot_id: str | None) -> dict:
        # explicit pins may target staged (pre-publish) snapshots: that is
        # how a WAP audit reads its candidate
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
        stats = self._read_json(spath) if os.path.exists(spath) else None
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
        meta = self._pin(table, snapshot_id)
        files, _total = self.prune_files(table, col, lo, hi, meta["snapshot_id"])
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if not files:
            return self.read(table, meta["snapshot_id"]).where(F.lit(False))
        return self._df_from_meta(meta, files).where(pred)

    def scan_partitions(self, table: str, col: str, value, snapshot_id: str | None = None) -> DataFrame:
        """Equality read pruned by HIDDEN partitioning: the predicate is on
        the SOURCE column; the catalog translates it through the table's
        partition transform (driver-side replica of the SQL expression) and
        filters on the derived directory column — Spark's scan then lists
        only the matching partition directories (PartitionFilters in the
        plan), never touching the rest of the layout.  Falls back to a plain
        filter when the column is not partition-driving.  Positional and
        equality deletes still apply."""
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
        meta = self._pin(table, snapshot_id)
        if meta.get("eq_deletes"):
            return self.read(table, meta["snapshot_id"]).count()

        def rows(dirs):
            return sum(pq.ParquetFile(p).metadata.num_rows for p in self._parquet_files(dirs))

        return rows(meta["data_dirs"]) - rows(meta.get("delete_dirs", []))

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
                dels.append(self._pos_delete_join(f_car, new_vec, "left_semi"))
            old_eqs = {json.dumps(e, sort_keys=True) for e in m_from.get("eq_deletes", [])}
            new_eqs = [
                e for e in m_to.get("eq_deletes", [])
                if json.dumps(e, sort_keys=True) not in old_eqs
            ]
            if new_eqs:
                dels.append(self._eq_delete_join(f_car, m_from, new_eqs, "left_semi"))
        if dels:
            parts.append(
                reduce(DataFrame.unionByName, dels)
                .dropDuplicates(["__fp", "__ri"])
                .withColumn("_change_type", F.lit("delete"))
            )
        if not parts:
            empty = self._df_from_meta(m_to).limit(0)
            return empty.withColumn("_change_type", F.lit(""))
        return reduce(DataFrame.unionByName, parts).drop("__fp", "__ri")

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
        """Read the table pinned at a snapshot (default: current; an
        explicit id may name a staged snapshot)."""
        return self._df_from_meta(self._pin(table, snapshot_id))

    def _df_from_meta(self, meta: dict, files: list[str] | None = None) -> DataFrame:
        """The snapshot's rows, deletes applied; ``files`` restricts the
        read as in `_read_base`."""
        if meta.get("delete_dirs") or meta.get("eq_deletes"):
            return self._read_with_pos(meta, files).drop("__fp", "__ri")
        return self._read_base(meta, with_pos=False, files=files)
