"""DML as batch jobs: CREATE / INSERT / UPDATE / UPSERT / DELETE / RELATE.

Reference: the per-record document pipeline (core/src/doc/create.rs:17-33
stage order: input → id → permissions → table checks → field checks →
defaults → computed → store → indexes → views → lives → events →
changefeed) re-expressed as set-oriented DataFrame writes:

  * id generation         → uuid/monotonic expressions
  * field type/ASSERT     → schema casts + validation predicates (errors
                            collected set-wide, matching SCHEMAFULL writes)
  * DEFAULT / VALUE       → coalesce / computed columns
  * store                 → a new parquet generation per write
                            (Delta-less MERGE: anti-join + union)
  * changefeed            → per-mutation change rows under <table>/_changes
                            (consumed by streaming.changefeed — the
                            Delta-CDF stand-in)
  * events (DEFINE EVENT) → post-write Python hooks

Generations <root>/<table>/data_g<N> are immutable; <root>/_manifest.json
(the Delta-log stand-in) names each table's live one and, for VERSIONed
tables, the one each versionstamp reads.  A write commits by an atomic
manifest rename, so a killed write never becomes visible; VERSION reads,
transaction savepoints and REMOVE TABLE are manifest edits, and each commit
deletes the generations nothing references.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.session import local_frame


@dataclass
class FieldDef:
    """DEFINE FIELD ... TYPE kind [DEFAULT expr] [ASSERT expr] [READONLY]
    (core/src/catalog/schema/field.rs)."""

    name: str
    dtype: str | None = None
    default: Callable[[], Column] | None = None
    assert_fn: Callable[[Column], Column] | None = None
    readonly: bool = False
    # VALUE <expr>: recomputed on every write from ($value, $this)
    # (define/field.rs value clause)
    value_fn: Callable[[Column], Column] | None = None
    # raw declared kind text ('number', 'array<int>', ...) — union kinds
    # carry no single Spark dtype but still drive member checks
    kind: str | None = None
    # DEFAULT expression AST — write-time kind checks evaluate literal
    # defaults driver-side (doc/field.rs default-then-coerce order)
    default_ast: tuple | None = None
    # ASSERT expression AST — literal writes assert driver-side so the
    # error carries the reference's message shape and ordering
    assert_ast: tuple | None = None
    # VALUE expression AST — driver-side asserts check the post-VALUE
    # value ($value after the VALUE clause, doc/field.rs stage order)
    value_ast: tuple | None = None
    # frame-level VALUE transformer for bodies a column expr can't build
    # (graph lookups `VALUE ->contains->product` need a join —
    # define/field/value_reference.surql); takes and returns the
    # being-written frame
    frame_value_fn: Callable[[DataFrame], DataFrame] | None = None
    # TYPE FLEXIBLE — nested members of an object kind may be undeclared
    flexible: bool = False


@dataclass
class TableDef:
    """DEFINE TABLE (core/src/catalog/table.rs:45-65): SCHEMAFULL fields,
    optional changefeed, event hooks."""

    name: str
    id_col: str = "id"
    fields: list[FieldDef] = field(default_factory=list)
    changefeed: bool = False
    # SELECT ... VERSION <ts> support: every write records the generation
    # it replaced under a versionstamp in the manifest, and those
    # generations are kept (the reference needs its SurrealKV backend for
    # this too, exec/operators/version_scope.rs).  Off by default: retained
    # generations are never collected.
    versioned: bool = False
    # DEFINE EVENT hooks: fn(action, df_of_affected_rows) — core/src/doc/event.rs
    events: list[Callable[[str, DataFrame], None]] = field(default_factory=list)
    # DEFINE INDEX ... UNIQUE: each entry is the column list of one unique
    # index, enforced on CREATE/INSERT/UPSERT (catalog/schema/index.rs Uniq)
    unique_indexes: list[list[str]] = field(default_factory=list)
    # columns degraded to kinded-JSON storage (heterogeneous kinds across
    # rows — values.py "kinded columns"; the reference stores Value per
    # cell, types/src/value/mod.rs:84-122)
    kinded: set[str] = field(default_factory=set)
    # TYPE RELATION (or implicitly defined by RELATE): edge records keep
    # their in/out pointers under CONTENT/REPLACE (doc/relate.rs)
    is_edge: bool = False


class MutationError(Exception):
    pass


class Database:
    """A database directory: per table its ``data_g<N>`` generations and
    ``_changes`` log, plus ``_manifest.json`` = ``{"next": N, "tables": {tbl:
    {"gen": live, "prev": replaced, "versions": {stamp: gen}}}}``.  ``next``
    numbers generations root-wide: none repeats, even across REMOVE TABLE
    and rollback.

    Scan cache: ``table`` and ``table_at`` return one lazy
    ``spark.read.parquet`` frame per generation dir (``_scans``), so the
    footer-reading schema job runs once per generation, not once per call.
    No entry goes stale, as a generation number never repeats and a
    committed generation is never rewritten; GC drops an entry with its
    dir, so the cache holds no more than the manifest and the open
    savepoints reference.  Repeated calls return the SAME frame: a join of
    two of them must name columns by string (``on="id"``) or alias one
    side, exactly as for ``Catalog`` fixture scans."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.tables: dict[str, TableDef] = {}
        os.makedirs(self.root, exist_ok=True)
        try:
            with open(f"{self.root}/_manifest.json") as fh:
                self._manifest = json.load(fh)
        except FileNotFoundError:
            self._manifest = {"next": 1, "tables": {}}
        # open savepoints, oldest first; each pins what it references
        self._savepoints: list[dict] = []
        # generation dir → its lazy scan (see the class docstring)
        self._scans: dict[str, DataFrame] = {}

    # -- catalog ------------------------------------------------------------

    def define_table(self, td: TableDef) -> None:
        if getattr(self, "versioned_default", False):
            # harness/session opted into versioned reads ([test]
            # versioned = true — VERSION clause snapshots)
            td.versioned = True
        self.tables[td.name] = td

    def drop(self, tbl: str) -> None:
        """REMOVE TABLE (KeyError if undefined): its files go at this
        commit's GC unless an open savepoint pins them."""
        del self.tables[tbl]
        self._manifest["tables"].pop(tbl, None)
        self._commit_manifest()

    def _data(self, tbl: str) -> str:
        """The live generation's dir, from the manifest (``data_g0``, which
        never exists, for a table with no committed generation)."""
        ent = self._manifest["tables"].get(tbl)
        return f"{self.root}/{tbl}/data_g{ent['gen'] if ent else 0}"

    def _changes(self, tbl: str) -> str:
        return f"{self.root}/{tbl}/_changes"

    def table_at(self, tbl: str, versionstamp: int) -> DataFrame:
        """SELECT ... VERSION — the table as of ``versionstamp`` (ms): the
        generation the first later write replaced, else the live table."""
        versions = self._manifest["tables"].get(tbl, {}).get("versions", {})
        later = [int(v) for v in versions if int(v) > versionstamp]
        if later:
            gen = versions[str(min(later))]
            return self._scan(f"{self.root}/{tbl}/data_g{gen}")
        return self.table(tbl)

    def table(self, tbl: str) -> DataFrame:
        if not self._exists(tbl):
            raise MutationError(f"table {tbl} is empty — no schema to read")
        return self._scan(self._data(tbl))

    def _scan(self, path: str) -> DataFrame:
        df = self._scans.get(path)
        if df is None:
            df = self._scans[path] = self.spark.read.parquet(path)
        return df

    def _exists(self, tbl: str) -> bool:
        return tbl in self._manifest["tables"]

    # -- generations, manifest commits, savepoints ---------------------------

    def _write(self, tbl: str, df: DataFrame, append: bool = False) -> None:
        """Write ``df`` as a new generation of ``tbl`` and commit it.

        ``append`` hard-links the live generation's parquet files into the
        new dir first, so only the new rows are written.  ``df`` may read
        the live generation lazily, and a reader of it stays valid across
        this write: GC keeps the generation before the live one."""
        n = self._manifest["next"]
        while os.path.exists(f"{self.root}/{tbl}/data_g{n}"):
            n += 1  # orphan of a killed write; the next GC removes it
        self._manifest["next"] = n + 1
        dst = f"{self.root}/{tbl}/data_g{n}"
        try:
            if append and self._exists(tbl):
                src = self._data(tbl)
                os.makedirs(dst)
                for f in os.listdir(src):
                    if f.endswith(".parquet"):
                        os.link(f"{src}/{f}", f"{dst}/{f}")
            self._devoid(df).write.mode(
                "append" if append else "overwrite").parquet(dst)
        except BaseException:
            shutil.rmtree(dst, ignore_errors=True)
            raise
        old = self._manifest["tables"].get(tbl, {"gen": None, "versions": {}})
        versions = old["versions"]
        if old["gen"] and getattr(self.tables.get(tbl), "versioned", False):
            vs = time.time_ns() // 1_000_000
            while str(vs) in versions:  # same-ms writes
                vs += 1
            versions[str(vs)] = old["gen"]
        self._manifest["tables"][tbl] = {
            "gen": n, "prev": old["gen"], "versions": versions}
        self._commit_manifest()

    def _commit_manifest(self) -> None:
        """Atomically replace the manifest, then delete every generation
        that neither it nor an open savepoint references."""
        path = f"{self.root}/_manifest.json"
        with open(path + ".tmp", "w") as fh:
            json.dump(self._manifest, fh)
        os.replace(path + ".tmp", path)
        keep: dict[str, set] = {}
        for tables in [self._manifest["tables"]] + [
                sp["manifest"] for sp in self._savepoints]:
            for tbl, ent in tables.items():
                keep.setdefault(tbl, set()).update(
                    [ent["gen"], ent["prev"], *ent["versions"].values()])
        for tbl in os.listdir(self.root):
            base = f"{self.root}/{tbl}"
            for d in os.listdir(base) if os.path.isdir(base) else ():
                # a removed table's change log goes with its generations
                if (int(d[6:]) not in keep.get(tbl, ()) if d.startswith("data_g")
                        else d == "_changes" and tbl not in keep):
                    shutil.rmtree(f"{base}/{d}", ignore_errors=True)
                    self._scans.pop(f"{base}/{d}", None)

    def savepoint(self) -> int:
        """Pin the manifest, table set and change-log file names in memory;
        returns the depth, the token for rollback/release."""
        changes = {t: set(os.listdir(self._changes(t)))
                   for t in self._manifest["tables"]
                   if os.path.isdir(self._changes(t))}
        self._savepoints.append({
            "manifest": copy.deepcopy(self._manifest["tables"]),
            "tables": dict(self.tables), "changes": changes})
        return len(self._savepoints) - 1

    def rollback(self, depth: int) -> None:
        """Restore savepoint ``depth`` and close it and later ones; change
        files written since are deleted."""
        sp = self._savepoints[depth]
        del self._savepoints[depth:]
        for tbl in sp["manifest"]:
            cf = self._changes(tbl)
            now = set(os.listdir(cf)) if os.path.isdir(cf) else set()
            for f in now - sp["changes"].get(tbl, set()):
                os.remove(f"{cf}/{f}")
        self._manifest["tables"] = sp["manifest"]
        self.tables.clear()
        self.tables.update(sp["tables"])
        self._commit_manifest()

    def release(self, depth: int) -> None:
        """Close savepoint ``depth`` and later ones, keeping the writes."""
        del self._savepoints[depth:]
        self._commit_manifest()

    # -- field pipeline (doc/field.rs process_table_fields) ------------------

    def _apply_fields(self, tbl: str, df: DataFrame, existing: bool,
                      touched: set | None = None) -> DataFrame:
        td = self.tables[tbl]

        def _input_col(name: str) -> Column:
            # $input = what THIS statement provided for the field; an
            # update that didn't touch it binds NONE (doc/field.rs)
            if touched is not None and name not in touched:
                return F.lit(None)
            return F.col(name) if name in df.columns else F.lit(None)

        # stash raw inputs BEFORE value transforms overwrite the columns —
        # ASSERT clauses bind $input to the statement's original value
        inp_stash: dict[str, str] = {}
        for fd in td.fields:
            if fd.assert_fn is not None and "." not in fd.name:
                nm = "__inp_" + fd.name
                df = df.withColumn(nm, _input_col(fd.name))
                inp_stash[fd.name] = nm
        for fd in td.fields:
            if fd.name.endswith(".*"):
                # wildcard member kind (`DEFINE FIELD obj.* TYPE number`,
                # define/field.rs): every member of the base struct must
                # coerce — a static check on the typed engine
                base = fd.name[:-2]
                if (fd.dtype or fd.kind) and base in df.columns:
                    from pyspark.sql import types as T

                    bt = df.schema[base].dataType
                    num = (fd.dtype in ("bigint", "double",
                                        "decimal(38,10)")
                           or fd.kind in ("int", "float", "number",
                                          "decimal"))
                    bad_ts = (T.StringType, T.BooleanType, T.ArrayType,
                              T.StructType, T.MapType)
                    members = (bt.fields if isinstance(bt, T.StructType)
                               else [])
                    if isinstance(bt, T.MapType) and num \
                            and isinstance(bt.valueType, bad_ts):
                        raise MutationError(
                            f"Couldn't coerce value for field `{fd.name}`: "
                            f"Expected `{fd.dtype}` member values")
                    for m in members:
                        if num and isinstance(m.dataType, bad_ts):
                            raise MutationError(
                                f"Couldn't coerce value for field "
                                f"`{fd.name}`: Expected `{fd.dtype}` "
                                f"but found `{m.name}`")
                continue
            if ".*." in fd.name:
                # `base.*.sub` member clause over an array-of-objects
                # field: defaults fill missing members per element;
                # VALUE clauses recompute per element with $this bound to
                # the element object (define/field.rs member defaults /
                # values — nested_computed_fields.surql)
                base, sub = fd.name.split(".*.", 1)
                if (fd.default is None and fd.value_ast is None) \
                        or base not in df.columns or "." in sub:
                    continue
                dt = dict(df.dtypes).get(base, "")
                if not dt.startswith("array<struct"):
                    continue
                if fd.value_ast is not None:
                    from surrealdb_spark.sql.compiler import compile_expr

                    def _mk_fill(s, a, dtx, root):
                        # single-arg lambda: F.transform dispatches on
                        # the callable's arity.  $this binds the ROOT
                        # document, not the element (doc/field.rs $this
                        # context — nested_computed_fields expects
                        # 'NONENONE' from root-level lookups)
                        def fill(x):
                            cur = (x.getField(s) if f"{s}:" in dtx
                                   else F.lit(None))
                            return x.withField(s, compile_expr(
                                a, {"this": root, "value": cur,
                                    "input": cur}))
                        return fill

                    def _this_fields(a, acc):
                        # `$this.<f>` references — absent root fields
                        # resolve to NONE, so pad them as NULL slots
                        if isinstance(a, tuple):
                            if (a[0] == "path"
                                    and a[1] == ("param", "this")
                                    and a[2] and a[2][0][0] == "field"):
                                acc.add(a[2][0][1])
                            for x in a:
                                _this_fields(x, acc)
                        elif isinstance(a, list):
                            for x in a:
                                _this_fields(x, acc)
                        return acc

                    refs = _this_fields(fd.value_ast, set())
                    parts = [F.col(c) for c in df.columns
                             if not c.startswith("__")]
                    parts += [F.lit(None).alias(n)
                              for n in sorted(refs - set(df.columns))]
                    fill = _mk_fill(sub, fd.value_ast, dt,
                                    F.struct(*parts))
                elif f"{sub}:" in dt:
                    fill = (lambda s: lambda x: x.withField(
                        s, F.coalesce(x.getField(s), fd.default())))(sub)
                else:
                    fill = (lambda s: lambda x: x.withField(
                        s, fd.default()))(sub)
                df = df.withColumn(base, F.transform(F.col(base), fill))
                continue
            if "." in fd.name:
                # nested object member (`obj.a`): validated driver-side at
                # literal-row build; a flat withColumn would just leak a
                # bogus `obj.a`-named column
                continue
            if "__k_" + fd.name in df.columns and fd.name in td.kinded:
                # kinded-JSON column (values.py): casts/defaults were
                # applied when the JSON was produced; a typed default
                # would not unify with the string slot
                continue
            if fd.frame_value_fn is not None:
                # join-backed VALUE body (graph lookup): the transformer
                # attaches the column itself
                df = fd.frame_value_fn(df)
                continue
            col = F.col(fd.name) if fd.name in df.columns else F.lit(None)
            if fd.default is not None:
                col = F.coalesce(col, fd.default())
            if fd.value_fn is not None:
                try:
                    col = fd.value_fn(col, _input_col(fd.name))
                except TypeError:
                    col = fd.value_fn(col)
            if fd.dtype:
                col = col.cast(fd.dtype)
            df = df.withColumn(fd.name, col)
        for fd in td.fields:
            if fd.assert_fn is not None:
                inp = (F.col(inp_stash[fd.name])
                       if fd.name in inp_stash else F.lit(None))
                try:
                    cond = fd.assert_fn(F.col(fd.name), inp)
                except TypeError:
                    cond = fd.assert_fn(F.col(fd.name))
                bad = df.filter(~F.coalesce(cond, F.lit(False)))
                if (fd.kind or "").strip().lower().startswith("option<"):
                    # option kinds assert only when a value is present
                    # (doc/field.rs: NONE skips the ASSERT clause)
                    bad = bad.filter(F.col(fd.name).isNotNull())
                n = bad.count()
                if n:
                    sample = bad.limit(3).collect()
                    raise MutationError(
                        f"ASSERT failed for field {fd.name} on {n} records, e.g. {sample}"
                    )
        if inp_stash:
            df = df.drop(*inp_stash.values())
        return df

    # -- changefeed + events -------------------------------------------------

    def _post_write(
        self, tbl: str, action: str, rows: DataFrame, before: DataFrame | None = None
    ) -> None:
        td = self.tables[tbl]
        if td.changefeed:
            vs = int(time.time() * 1000)
            change = rows.select(
                F.lit(vs).alias("versionstamp"),
                F.lit(action).alias("action"),
                F.col(td.id_col).cast("string").alias("record_id"),
                F.to_json(F.struct(*[F.col(c) for c in rows.columns])).alias("after"),
            )
            if before is not None:
                b = before.select(
                    F.col(td.id_col).cast("string").alias("record_id"),
                    F.to_json(F.struct(*[F.col(c) for c in before.columns])).alias(
                        "before"
                    ),
                )
                change = change.join(b, "record_id", "left").select(
                    "versionstamp", "action", "record_id", "before", "after"
                )
            else:
                change = change.select(
                    "versionstamp",
                    "action",
                    "record_id",
                    F.lit(None).cast("string").alias("before"),
                    "after",
                )
            change.write.mode("append").parquet(self._changes(tbl))
        for hook in td.events:
            # 3-arg hooks (incremental views) also see the pre-image
            import inspect

            if len(inspect.signature(hook).parameters) >= 3:
                hook(action, rows, before)
            else:
                hook(action, rows)

    # -- statements ----------------------------------------------------------

    @staticmethod
    def _uniq_entries(df: DataFrame, cols: list[str],
                      extra: list[str] | None = None) -> DataFrame | None:
        """Index-entry tuples for a unique index (idx/index.rs Indexable/
        Combinator): a PLAIN column holding an array unrolls one entry
        per element; a `...`-suffixed (Part::Flatten) column keeps the
        whole (mapped) array as a single entry value.  None when a column
        is absent from the frame (nothing to check)."""
        names: list[str] = []
        out = df
        for i, c in enumerate(cols):
            slot = f"__ux{i}"
            if c.endswith("..."):
                base = c[:-3]
                if ".*." in base:
                    b0, sub = base.split(".*.", 1)
                    if b0 not in out.columns:
                        return None
                    col = F.transform(
                        F.col(b0),
                        (lambda s: lambda x: x.getField(s))(sub))
                else:
                    if base not in out.columns:
                        return None
                    col = F.col(base)
                # whole-array entry value: hash to a comparable scalar
                out = out.withColumn(slot, F.to_json(F.struct(col)))
            else:
                if c not in out.columns:
                    return None
                if dict(df.dtypes).get(c, "").startswith("array"):
                    # plain array column: one entry per element
                    out = out.withColumn(slot, F.explode(F.col(c)))
                else:
                    out = out.withColumn(slot, F.col(c))
            names.append(slot)
        return out.select(*(names + list(extra or [])))

    def _check_unique(self, tbl: str, records: DataFrame) -> None:
        """Uniq index enforcement (catalog/schema/index.rs Uniq): one
        semi-join per index against stored rows + an intra-batch groupBy."""
        td = self.tables[tbl]
        for cols in td.unique_indexes:
            ent = self._uniq_entries(records, cols)
            if ent is None:
                continue
            keys = ent.columns
            dup_batch = (
                ent.groupBy(*keys).count().filter(F.col("count") > 1).count()
            )
            if dup_batch:
                raise MutationError(
                    f"unique index on {cols} violated within the batch"
                )
            if self._exists(tbl):
                stored = self._uniq_entries(self.table(tbl), cols)
                if stored is None:
                    continue
                n = ent.join(stored, keys, "left_semi").count()
                if n:
                    raise MutationError(
                        f"unique index on {cols}: {n} clashing value(s) in {tbl}"
                    )

    def _check_unique_final(self, tbl: str, merged: DataFrame) -> None:
        """Uniq enforcement for update/upsert paths (index.rs Uniq on
        update): one groupBy per index over the post-mutation table catches
        both intra-batch and updated-vs-existing collisions before the
        overwrite lands."""
        td = self.tables[tbl]
        for cols in td.unique_indexes:
            ent = self._uniq_entries(merged, cols)
            if ent is None:
                continue
            keys = ent.columns
            n = ent.groupBy(*keys).count().filter(F.col("count") > 1).count()
            if n:
                raise MutationError(
                    f"unique index on {cols}: mutation violates uniqueness in {tbl}"
                )

    @staticmethod
    def _is_numeric_dt(dt: str) -> bool:
        return dt.split("(", 1)[0] in ("tinyint", "smallint", "int",
                                       "bigint", "float", "double",
                                       "decimal")


    def _kindify_col(self, df: DataFrame, c: str) -> DataFrame:
        """Convert one natively-typed column to kinded-JSON storage:
        value → JSON text, __k_<c> → per-row kind name (values.py)."""
        from surrealdb_spark.values import (KIND_SIDECAR_PREFIX,
                                            json_render_col,
                                            kind_col_of_dtype)

        dt = dict(df.dtypes)[c]
        sc = KIND_SIDECAR_PREFIX + c
        kex = F.col(sc) if sc in df.columns else F.lit(None).cast("string")
        kcol = F.coalesce(kex, kind_col_of_dtype(F.col(c), dt))
        # sidecar FIRST: it reads the native value (string-shape/geometry
        # refinements) and must not see the JSON-rendered text
        return df.withColumn(sc, kcol) \
            .withColumn(c, json_render_col(F.col(c), dt))

    def _harmonize(self, tbl: str, stored: DataFrame,
                   incoming: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Make a stored frame and an incoming batch union-compatible.
        Same-family numeric conflicts widen (union coercion); any other
        kind conflict degrades the column to kinded-JSON on both sides
        and registers it in TableDef.kinded (values.py kinded columns)."""
        from surrealdb_spark.values import merge_union_dt

        td = self.tables[tbl]
        st, it = dict(stored.dtypes), dict(incoming.dtypes)
        for c in sorted(set(st) & set(it)):
            if c.startswith("__"):
                continue
            if c in td.kinded:
                # stored side already JSON+sidecar; convert the batch
                if not (it[c] == "string" and
                        "__k_" + c in incoming.columns):
                    incoming = self._kindify_col(incoming, c)
                continue
            if st[c] == it[c]:
                continue
            if self._is_numeric_dt(st[c]) and self._is_numeric_dt(it[c]):
                continue  # number family widens in place
            if st[c] == "string" and it[c] != "string" \
                    and not stored.filter(F.col(c).isNotNull()).take(1):
                # stored side is an all-NULL slot that was devoided to
                # string at write time — it takes the incoming type
                # (CREATE t SET v = null, then v = d'...')
                stored = stored.withColumn(c, F.lit(None).cast(it[c]))
                continue
            tgt = merge_union_dt(st[c], it[c])
            if tgt is not None:
                # void (all-NULL) slots take the other side's type — a
                # NONE first write must not degrade the column to JSON
                # (CREATE org SET parent = NONE, then parent = org:x) —
                # and numeric arrays widen element-wise
                if st[c] != tgt:
                    stored = stored.withColumn(c, F.col(c).cast(tgt))
                if it[c] != tgt:
                    incoming = incoming.withColumn(c, F.col(c).cast(tgt))
                continue
            stored = self._kindify_col(stored, c)
            incoming = self._kindify_col(incoming, c)
            td.kinded.add(c)
        # columns only the incoming batch carries, on an already-kinded name
        for c in sorted(td.kinded & set(it) - set(st)):
            if not (it[c] == "string" and "__k_" + c in incoming.columns):
                incoming = self._kindify_col(incoming, c)
        return stored, incoming

    def _append(self, tbl: str, records: DataFrame) -> None:
        """Append rows, rewriting the table when the incoming schema
        differs (schemaless tables accept new fields and numeric widening;
        kind conflicts degrade to kinded-JSON columns — values.py;
        one parquet dir must stay self-consistent)."""
        td = self.tables[tbl]
        if self._exists(tbl):
            cur = self.table(tbl)
            if td.kinded & set(records.columns) \
                    or dict(cur.dtypes) != dict(records.dtypes):
                cur, records = self._harmonize(tbl, cur, records)
                merged = cur.unionByName(records, allowMissingColumns=True)
                self._write(tbl, merged)
                return
        self._write(tbl, records, append=True)

    def create(self, tbl: str, records: DataFrame) -> DataFrame:
        """CREATE — insert new records, ERROR if an id already exists
        (expr/statements/create.rs; Iterable::GenerateRecordId)."""
        td = self.tables[tbl]
        records = self._apply_fields(tbl, records, existing=False)
        if self._exists(tbl):
            clash = records.join(
                self.table(tbl).select(td.id_col), td.id_col, "left_semi"
            )
            n = clash.count()
            if n:
                raise MutationError(f"CREATE: {n} record id(s) already exist in {tbl}")
        self._check_unique(tbl, records)
        records = records.localCheckpoint(eager=True)
        self._append(tbl, records)
        self._post_write(tbl, "CREATE", records)
        return records

    def insert(self, tbl: str, records: DataFrame, on_duplicate: dict[str, Column] | None = None) -> DataFrame:
        """INSERT — bulk load; ON DUPLICATE KEY UPDATE applies SET exprs to
        clashing ids (expr/data.rs Data::UpdateExpression, Iterable::Mergeable).
        MERGE emulation: existing⟕new anti-join + resolved duplicates + fresh.
        """
        td = self.tables[tbl]
        records = self._apply_fields(tbl, records, existing=False)
        if not self._exists(tbl):
            self._check_unique(tbl, records)
            records = records.localCheckpoint(eager=True)
            self._append(tbl, records)
            self._post_write(tbl, "CREATE", records)
            return records
        current = self.table(tbl)
        current, records = self._harmonize(tbl, current, records)
        fresh = records.join(current.select(td.id_col), td.id_col, "left_anti")
        self._check_unique(tbl, fresh)
        if on_duplicate is None:
            merged = current.unionByName(fresh)
            touched = fresh.localCheckpoint(eager=True)
            dup_before = None
        else:
            dup_ids = records.select(td.id_col)
            updated = current.join(dup_ids, td.id_col, "left_semi")
            dup_before = None
            if td.events or td.changefeed:
                dup_before = updated.localCheckpoint(eager=True)
            for k, v in on_duplicate.items():
                updated = updated.withColumn(k, v)
            untouched = current.join(dup_ids, td.id_col, "left_anti")
            merged = untouched.unionByName(updated).unionByName(fresh)
            touched = updated.unionByName(fresh).localCheckpoint(eager=True)
            self._check_unique_final(tbl, merged)
        self._write(tbl, merged)
        self._post_write(tbl, "UPDATE", touched, before=dup_before)
        return touched

    def update(
        self,
        tbl: str,
        set_exprs: dict[str, Column],
        where: Column | None = None,
        return_: str = "AFTER",
        capture: dict | None = None,
    ) -> DataFrame:
        """UPDATE ... SET ... WHERE — RETURN NONE/BEFORE/AFTER/DIFF
        (expr/output.rs:7-15; diff via value::diff)."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            # UPDATE only touches existing records (update.rs; UPSERT is
            # the create-if-absent verb) — empty table is a no-op
            empty = local_frame(self.spark, [], "id string")
            if capture is not None:
                capture["before"], capture["after"] = empty, empty
            return empty
        current = self.table(tbl)
        cond = where if where is not None else F.lit(True)
        before = current.filter(cond).localCheckpoint(eager=True)
        after = before
        for k, v in set_exprs.items():
            after = after.withColumn(k, v)
        touched = {k for k in set_exprs if not k.startswith("__")}
        after = self._apply_fields(
            tbl, after, existing=True, touched=touched,
        ).localCheckpoint(eager=True)
        for fd in td.fields:
            # READONLY fields may be re-set to the SAME value only
            # (doc/field.rs readonly check)
            if not fd.readonly or fd.name not in touched \
                    or fd.name not in before.columns:
                continue
            ch = (before.select(td.id_col, F.col(fd.name).alias("__b"))
                  .join(after.select(td.id_col,
                                     F.col(fd.name).alias("__a")),
                        td.id_col)
                  .filter(~F.col("__b").eqNullSafe(F.col("__a")))
                  .limit(1).collect())
            if ch:
                raise MutationError(
                    f"Found changed value for field `{fd.name}`, with "
                    f"record `{ch[0][td.id_col]}`, but field is readonly")
        untouched = current.filter(~F.coalesce(cond, F.lit(False)))
        # allowMissingColumns: SET may introduce a new field (schemaless
        # semantics — untouched records get NULL for it)
        untouched, after_m = self._harmonize(tbl, untouched, after)
        merged = untouched.unionByName(after_m, allowMissingColumns=True)
        self._check_unique_final(tbl, merged)
        self._write(tbl, merged)
        self._post_write(tbl, "UPDATE", after, before=before)
        if capture is not None:
            capture["before"], capture["after"] = before, after
        return self._returning(td, before, after, return_)

    def upsert(
        self, tbl: str, records: DataFrame, set_exprs: dict[str, Column] | None = None
    ) -> DataFrame:
        """UPSERT — update matching ids, create the rest."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            return self.create(tbl, records)
        records = self._apply_fields(tbl, records, existing=False)
        current = self.table(tbl)
        current, records = self._harmonize(tbl, current, records)
        fresh = records.join(current.select(td.id_col), td.id_col, "left_anti")
        replaced = records.join(current.select(td.id_col), td.id_col, "left_semi")
        rep_before = None
        if td.events or td.changefeed:
            # pre-images of the replaced ids — events bind the real
            # $before (doc/event.rs self.initial); checkpointed before the
            # overwrite invalidates the lazy read
            rep_before = current.join(
                records.select(td.id_col), td.id_col, "left_semi"
            ).localCheckpoint(eager=True)
        if set_exprs:
            for k, v in set_exprs.items():
                replaced = replaced.withColumn(k, v)
        untouched = current.join(records.select(td.id_col), td.id_col, "left_anti")
        replaced = replaced.localCheckpoint(eager=True)
        fresh = fresh.localCheckpoint(eager=True)
        # allowMissingColumns: a whole-row replace may DROP fields the
        # table still carries for other rows (CONTENT removes keys)
        merged = untouched.unionByName(
            replaced, allowMissingColumns=True
        ).unionByName(fresh, allowMissingColumns=True)
        self._check_unique_final(tbl, merged)
        self._write(tbl, merged)
        self._post_write(tbl, "UPDATE", replaced, before=rep_before)
        self._post_write(tbl, "CREATE", fresh)
        return replaced.unionByName(fresh)

    def delete(self, tbl: str, where: Column | None = None,
               return_: str = "NONE", capture: dict | None = None) -> DataFrame:
        """DELETE ... WHERE — anti-join rewrite (+ edge purge analogue:
        callers drop edges referencing deleted ids, doc/purge.rs)."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            # deleting from an empty table is a no-op (doc/delete.rs)
            empty = local_frame(self.spark, [], "id string")
            if capture is not None:
                capture["before"] = empty
            return empty
        current = self.table(tbl)
        cond = where if where is not None else F.lit(True)
        doomed = current.filter(cond).localCheckpoint(eager=True)
        kept = current.filter(~F.coalesce(cond, F.lit(False)))
        self._write(tbl, kept)
        self._post_write(tbl, "DELETE", doomed, before=doomed)
        if capture is not None:
            capture["before"] = doomed
        return doomed if return_ == "BEFORE" else doomed.limit(0)

    def relate(self, edge_tbl: str, edges: DataFrame) -> DataFrame:
        """RELATE a->e->b — append edge records carrying in/out
        (doc/relate.rs; operators/graph.relate builds the rows)."""
        if edge_tbl not in self.tables:
            self.define_table(TableDef(edge_tbl, id_col="id", is_edge=True))
        self.tables[edge_tbl].is_edge = True
        td = self.tables[edge_tbl]
        if td.id_col not in edges.columns:
            edges = edges.withColumn(
                td.id_col, F.concat(F.lit(edge_tbl), F.lit(":"), F.md5(F.concat_ws("|", "in", "out")))
            )
        edges = edges.localCheckpoint(eager=True)
        if self._exists(edge_tbl):
            clash = edges.join(
                self.table(edge_tbl).select(td.id_col), td.id_col,
                "left_semi").count()
            if clash:
                # RELATE with an existing edge id replaces the edge
                # (doc/relate.rs — the edge key is an upsert key)
                return self.upsert(edge_tbl, edges)
        self._append(edge_tbl, edges)
        self._post_write(edge_tbl, "CREATE", edges)
        return edges

    # -- helpers -------------------------------------------------------------

    @staticmethod
    def _devoid(df: DataFrame) -> DataFrame:
        """Parquet can't store void (all-NULL) columns — cast them to
        string at write time (recursively through arrays).  Semantics are
        unchanged: every cell is NULL either way."""
        def fix(dt: str) -> str | None:
            if dt == "void":
                return "string"
            if dt.startswith("array<") and dt.endswith(">"):
                inner = fix(dt[6:-1])
                return f"array<{inner}>" if inner else None
            return None

        for c, dt in df.dtypes:
            tgt = fix(dt)
            if tgt:
                df = df.withColumn(c, F.col(c).cast(tgt))
        return df

    @staticmethod
    def _returning(td: TableDef, before: DataFrame, after: DataFrame, mode: str) -> DataFrame:
        if mode == "NONE":
            return after.limit(0)
        if mode == "BEFORE":
            return before
        if mode == "AFTER":
            return after
        if mode == "DIFF":
            b = before.select(
                F.col(td.id_col),
                F.to_json(F.struct(*[F.col(c) for c in before.columns])).alias("before"),
            )
            a = after.select(
                F.col(td.id_col),
                F.to_json(F.struct(*[F.col(c) for c in after.columns])).alias("after"),
            )
            return b.join(a, td.id_col)
        raise ValueError(mode)


def diff_patch(before: dict, after: dict) -> list[dict]:
    """value::diff — JSON-Patch ops between two records
    (core/src/expr/operation.rs; used by RETURN DIFF / LIVE DIFF)."""
    ops: list[dict] = []
    for k in sorted(set(before) | set(after)):
        if k not in after:
            ops.append({"op": "remove", "path": f"/{k}"})
        elif k not in before:
            ops.append({"op": "add", "path": f"/{k}", "value": after[k]})
        elif before[k] != after[k]:
            ops.append({"op": "replace", "path": f"/{k}", "value": after[k]})
    return ops


class ViewDef:
    """DEFINE TABLE <name> AS SELECT — materialized/aggregated views
    (core/src/catalog/view.rs:12-36: Materialized / Aggregated / Select).

    ``builder`` maps the source table's DataFrame to the view's content.
    Maintenance is hooked into every mutation via Database.define_view
    (the analogue of process_table_views, core/src/doc/table.rs): batch
    recompute-on-write — the documented Spark strategy for the Aggregated
    flavor at this stage (incremental delta-merge arrives with streaming
    aggregation over the changefeed; SURVEY §2.4).
    """

    def __init__(self, name: str, source: str, builder: Callable[[DataFrame], DataFrame]):
        self.name = name
        self.source = source
        self.builder = builder


def define_view(db: Database, view: ViewDef) -> None:
    """Register the view and hook recompute into the source's mutations."""
    db.define_table(TableDef(view.name, id_col="id"))

    def maintain(_action: str, _rows: DataFrame) -> None:
        db._write(view.name, view.builder(db.table(view.source)))

    db.tables[view.source].events.append(maintain)
    if db._exists(view.source):
        maintain("CREATE", db.table(view.source))
