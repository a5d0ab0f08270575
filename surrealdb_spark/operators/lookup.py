"""Graph-lookup attach engine: join-based multi-hop traversal columns.

Reference semantics (surrealdb/surrealdb):
  - each ``->seg`` / ``<-seg`` / ``<->seg`` is ONE Lookup part applied to
    the current value (core/src/expr/lookup.rs; exec chains one
    GraphEdgeScan per segment, core/src/exec/operators/scan/graph.rs:43);
  - applied to a *record*, a segment scans that record's graph keys —
    output order is the KV key order ``(dir, edge_table, edge_key)`` with
    In before Out for ``<->`` (core/src/key/graph/mod.rs:124-137: fields
    eg, ft, fk);
  - applied to an *edge record*, a segment reads the edge's pointer —
    ``out`` for ``->``, ``in`` for ``<-``, both (in first) for ``<->`` —
    filtered to the segment's table (scan/graph.rs:28-36 TargetId);
  - duplicates are kept, per-source subquery clauses
    ``->(tb WHERE .. ORDER .. LIMIT n)`` apply per source record.

Spark mapping: the frontier is a DataFrame keyed by the source row's
record id.  An edge segment is one equi-join against the edge table
(broadcastable when small); a target segment is a pure projection on the
joined edge row — zero extra joins.  Results re-nest per source row with
``collect_list`` + ``array_sort`` over an accumulated KV-order key, so a
pair ``->knows->person`` costs exactly one join + one aggregation.  At
100 TB nothing touches the driver: per-source LIMIT/ORDER lower to a
window over (source, path-prefix) and the KV-order key is a plain string
column.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from surrealdb_spark.session import local_frame

SEP = "\x01"  # sorts below every printable char → correct (ft, fk) order


def _rid_table(c: Column) -> Column:
    return F.regexp_extract(c, "^([^:]*):", 1)


def _rid_key(c: Column) -> Column:
    return F.regexp_replace(c, "^[^:]*:", "")


def _kv_key(c: Column) -> Column:
    """Record-id key part, tagged so numeric keys order before strings
    (types/src/value/record_id/key.rs ordering: Number < String)."""
    k = _rid_key(c)
    return F.when(
        k.rlike("^[0-9]+$"), F.concat(F.lit("\x02"), F.lpad(k, 20, "0"))
    ).otherwise(F.concat(F.lit("\x03"), k))


def edge_table_names(cat) -> list[str]:
    """Candidate edge tables for a `?` wildcard segment: RELATE-shaped
    tables (in/out record-id columns — doc/relate.rs edge shape)."""
    names = set(getattr(cat, "edge_names", ()) or ())
    names |= set(getattr(cat, "edges", {}) or {})
    return sorted(names)


def edge_df(cat, name: str) -> DataFrame | None:
    """Resolve an edge table by name; None when it isn't RELATE-shaped."""
    df = None
    if name in getattr(cat, "edges", {}):
        df = cat.edges[name]
    else:
        try:
            df = cat.table(name)
        except Exception:
            return None
    if df is None or "in" not in df.columns or "out" not in df.columns:
        return None
    if "id" not in df.columns:
        df = df.withColumn(
            "id", F.concat(F.lit(name), F.lit(":"), F.md5(F.concat_ws("|", "in", "out")))
        )
    return df


class LookupError_(ValueError):
    """A lookup shape this engine doesn't support (falls back to error)."""


# driver-side cap for the recursive-destructure tree assembler (an OLTP
# point-query path): loud failure beats a silent OOM on a celebrity node
_DESTRUCTURE_CAP = 10_000


def attach_lookups(spark: SparkSession, df: DataFrame, cat, specs: list,
                   params: dict, compile_expr, types_of) -> DataFrame:
    """Attach one hidden array column per lookup spec.

    specs: list of ``(slot, base_ast, steps, mode)`` where steps is a list
    of ``(dir, tables|None, opts)`` single lookups and mode is ``("id",)``,
    ``("rows",)`` or ``("destructure", fields)``.
    """
    if "id" not in df.columns:
        raise LookupError_("graph lookups need record sources (no id column)")
    for spec in specs:
        df = _attach_one(spark, df, cat, spec, params, compile_expr, types_of)
    return df


def _seed_col(base, params, compile_expr) -> Column:
    if base == ("curr",) or base == ("ident", "id"):
        return F.col("id")
    return compile_expr(base, params, {})


def _has_parent(ast) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple) and ast[0] == "param" and ast[1] == "parent":
        return True
    return any(_has_parent(x) for x in ast if isinstance(x, (tuple, list)))


def _opts_have_parent(steps) -> bool:
    for _, _, o in steps:
        if _has_parent(o.get("where")):
            return True
        if any(_has_parent(a) for a, _ in o.get("order", [])):
            return True
    return False


def _attach_one(spark, df, cat, spec, params, compile_expr, types_of):
    slot, base, steps, mode = spec
    sel_cols = [
        F.col("id").alias("__rk"),
        _seed_col(base, params, compile_expr).alias("__node"),
        F.lit("").alias("__ord"),
    ]
    if _opts_have_parent(steps):
        # $parent in a lookup subquery: carry the source row through the
        # hops (exec CurrentValueSource $parent binding)
        sel_cols.append(F.struct(*[F.col(c) for c in df.columns])
                        .alias("__parent"))
        params = {**params, "parent": F.col("__parent")}
    fr = df.select(*sel_cols)
    state = "node"
    last_tables = None
    want_row_at = len(steps) - 1 if mode[0] != "id" else None
    for i, (dirn, tables, opts) in enumerate(steps):
        want_row = (i == want_row_at) or bool(
            opts.get("fields") or opts.get("star") or opts.get("order")
        )
        if state == "node":
            fr = _edge_segment(fr, cat, dirn, tables, opts, params,
                               want_row, compile_expr, types_of)
            state = "edge"
        else:
            fr = _target_segment(fr, cat, dirn, tables, opts, params,
                                 want_row, compile_expr, types_of)
            state = "node"
        last_tables = tables
    if "__grpv" in fr.columns:
        val = fr["__grpv"]  # grouped subquery: per-group struct rows
    else:
        fr, val = _final_value(fr, cat, state, mode, steps[-1],
                               last_tables, params, compile_expr, types_of)
    agg = (
        fr.select("__rk", F.struct(F.col("__ord").alias("o"),
                                   val.alias("v")).alias("__s"))
        .groupBy("__rk")
        .agg(F.transform(F.array_sort(F.collect_list("__s")),
                         lambda x: x["v"]).alias(slot))
    )
    out = df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
    empty = F.array().cast(dict(agg.dtypes)[slot])
    return out.withColumn(slot, F.coalesce(F.col(slot), empty))


def _edge_segment(fr, cat, dirn, tables, opts, params, want_row,
                  compile_expr, types_of):
    """One node→edges hop: equi-join frontier against the edge table(s)."""
    fr = fr.drop(*[c for c in fr.columns if c.startswith("__c_")])
    dirs = [("in", "0"), ("out", "1")] if dirn == "both" else [(dirn, "")]
    names = tables if tables is not None else edge_table_names(cat)
    hops = []
    carry_cols: list[str] | None = None
    parent_where = _has_parent(opts.get("where"))
    if parent_where:
        want_row = True  # correlated filter needs the edge fields post-join
    for ti, t in enumerate(names):
        e = edge_df(cat, t)
        if e is None:
            continue
        if "range" in opts:
            # edge-id range bounds (scan/graph.rs EdgeTableSpec) — a plain
            # key predicate, pushdown-able into the edge scan.  Array-key
            # bounds (`->edge:[6]..=[$n]`) compare in element-wise VALUE
            # order via the order-preserving key encoding (values.py).
            lo, hi, incl = opts["range"]
            if any(isinstance(b, tuple) and b[0] == "karr"
                   for b in (lo, hi) if b is not None):
                from surrealdb_spark.values import (
                    encode_key_value, key_sort_udf)

                def _kb(b):
                    if not (isinstance(b, tuple) and b[0] == "karr"):
                        return encode_key_value(b)
                    ast = b[1]
                    elems = ast[1] if ast[0] == "array" else [ast]
                    row = e.sparkSession.range(1).select(*[
                        compile_expr(el, params, {}).alias(f"v{i}")
                        for i, el in enumerate(elems)]).first()
                    return encode_key_value(
                        [row[f"v{i}"] for i in range(len(elems))])

                enc = key_sort_udf()(F.col("id"))
                if lo is not None:
                    e = e.filter(enc >= F.lit(_kb(lo)))
                if hi is not None:
                    b2 = F.lit(_kb(hi))
                    e = e.filter(enc <= b2 if incl else enc < b2)
            else:
                k = _rid_key(F.col("id"))
                if isinstance(lo, int) or isinstance(hi, int):
                    k = k.try_cast("bigint")
                if lo is not None:
                    e = e.filter(k >= F.lit(lo))
                if hi is not None:
                    e = e.filter(k <= F.lit(hi) if incl else k < F.lit(hi))
        if "where" in opts and not parent_where:
            e = e.filter(_truthy_guard(
                compile_expr(opts["where"], params, types_of(e))))
        # explicit lists scan in specification order; the `?` wildcard
        # scans KV order = table-name order (key/graph/mod.rs ft field)
        tkey = f"{ti:03d}" if tables is not None else t
        for d, rank in dirs:
            here = "in" if d == "out" else "out"
            sel = [
                F.col("id").alias("__eid"),
                F.col("in").alias("__ein"),
                F.col("out").alias("__eout"),
                F.col(here).alias("__mt"),
                F.concat(F.lit(rank), F.lit(SEP), F.lit(tkey), F.lit(SEP),
                         _kv_key(F.col("id"))).alias("__piece"),
            ]
            if want_row:
                cols = [c for c in e.columns]
                if carry_cols is None:
                    carry_cols = cols
                elif carry_cols != cols:
                    raise LookupError_(
                        "row-shaped lookup over heterogeneous edge tables")
                sel += [F.col(c).alias(f"__c_{c}") for c in cols]
            hops.append(e.select(*sel))
    if not hops:
        sc = fr.sparkSession
        schema = "__rk string, __ord string, __eid string, __ein string, __eout string"
        return local_frame(sc, [], schema)
    hop = hops[0]
    for h in hops[1:]:
        hop = hop.unionByName(h)
    joined = fr.join(hop, fr["__node"] == hop["__mt"]).drop("__mt", "__node")
    if parent_where:
        joined = joined.filter(_truthy_guard(
            _row_expr(opts["where"], params, compile_expr)))
    joined = joined.withColumn("__prevord", F.col("__ord"))
    joined = joined.withColumn(
        "__ord", F.concat(F.col("__prevord"), F.lit(SEP), F.col("__piece"))
    ).drop("__piece")
    if opts.get("group") is not None:
        return _apply_group(joined, opts, params, compile_expr)
    joined = _apply_subquery_opts(joined, opts, params, compile_expr)
    return joined.drop("__prevord")


def _apply_subquery_opts(joined, opts, params, compile_expr):
    """Per-source ORDER/LIMIT/START from a lookup subquery — one window
    over (source row, path prefix), no driver round-trips."""
    if not (opts.get("order") or opts.get("limit") is not None
            or opts.get("start") is not None):
        return joined
    if opts.get("order"):
        sort_cols = []
        for ast, desc in opts["order"]:
            c = _row_expr(ast, params, compile_expr)
            sort_cols.append(c.desc() if desc else c.asc())
        sort_cols.append(F.col("__ord").asc())
    else:
        sort_cols = [F.col("__ord").asc()]
    w = Window.partitionBy("__rk", "__prevord").orderBy(*sort_cols)
    joined = joined.withColumn("__rn", F.row_number().over(w))
    lo = opts.get("start") or 0
    joined = joined.filter(F.col("__rn") > lo)
    if opts.get("limit") is not None:
        joined = joined.filter(F.col("__rn") <= lo + opts["limit"])
    if opts.get("order"):
        # subquery ORDER replaces KV order for this segment's output
        joined = joined.withColumn(
            "__ord",
            F.concat(F.col("__prevord"), F.lit(SEP),
                     F.lpad(F.col("__rn").cast("string"), 12, "0")),
        )
    return joined.drop("__rn")


def _apply_group(joined, opts, params, compile_expr):
    """`->(SELECT aggs, key FROM edge GROUP BY key)` — per-source grouped
    aggregation over the joined edge rows (graph/subqueries.surql): ONE
    groupBy on (source, keys), partial-aggregated map-side; group objects
    order by their key text.  Emits `__grpv` (the per-group struct) which
    short-circuits _final_value."""
    from surrealdb_spark.sql.compiler import (
        _decompose, _default_name, _has_aggregate, types_of)

    keys = opts["group"]
    types = types_of(joined)
    key_aliases = []
    key_cols = []
    for i, k in enumerate(keys):
        rk = _remap_idents(k)
        alias = rk[1] if rk[0] == "ident" else f"__gk{i}"
        key_aliases.append(alias)
        key_cols.append(compile_expr(rk, params, types).alias(alias))
    aggs: list = []
    post: list = []
    for fld in opts.get("fields") or []:
        name = fld.alias or _default_name(fld.expr)
        e = _remap_idents(fld.expr)
        if _has_aggregate(e):
            post.append((_decompose(e, aggs, params, types), name))
        else:
            post.append((e, name))
    # _ocollect orders grouped arrays by `id` — surface the edge's id
    if "__c_id" in joined.columns and "id" not in joined.columns:
        joined = joined.withColumn("id", F.col("__c_id"))
    g = joined.groupBy(F.col("__rk"), F.col("__prevord"), *key_cols)
    out = g.agg(*aggs) if aggs else g.agg(F.count(F.lit(1)).alias("__n"))
    ptypes = dict(out.dtypes)
    struct_col = F.struct(*[
        compile_expr(a, params, ptypes).alias(n) for a, n in post])
    ordc = F.concat_ws(SEP, F.col("__prevord"),
                       *[F.col(a).cast("string") for a in key_aliases])
    return out.select(F.col("__rk"), ordc.alias("__ord"),
                      struct_col.alias("__grpv"))


def _row_expr(ast, params, compile_expr) -> Column:
    """Compile an expression over the carried row columns (__c_<name>)."""
    remapped = _remap_idents(ast)
    return compile_expr(remapped, params, {})


def _remap_idents(ast):
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "ident":
        return ("ident", f"__c_{ast[1]}")
    return tuple(
        [_remap_idents(x) if isinstance(x, tuple)
         else ([_remap_idents(e) for e in x] if isinstance(x, list) else x)
         for x in ast]
    )


def _truthy_guard(c: Column) -> Column:
    return c.cast("boolean")


def _target_segment(fr, cat, dirn, tables, opts, params, want_row,
                    compile_expr, types_of):
    """One edge→record hop: read the edge's pointer(s) — a projection."""
    drop = [c for c in fr.columns if c.startswith("__c_")] + \
        ["__eid", "__ein", "__eout"]
    if dirn == "both":
        ptrs = F.array(
            F.struct(F.lit("0").alias("r"), F.col("__ein").alias("p")),
            F.struct(F.lit("1").alias("r"), F.col("__eout").alias("p")),
        )
        fr = fr.withColumn("__pt", F.explode(ptrs))
        fr = fr.withColumn("__node", F.col("__pt.p")).withColumn(
            "__ord", F.concat(F.col("__ord"), F.lit(SEP), F.col("__pt.r"))
        ).drop("__pt", *drop)
    else:
        ptr = F.col("__eout") if dirn == "out" else F.col("__ein")
        fr = fr.withColumn("__node", ptr).drop(*drop)
    if tables is not None:
        fr = fr.filter(_rid_table(F.col("__node")).isin(tables))
    if "where" in opts or opts.get("order") or opts.get("limit") is not None \
            or opts.get("start") is not None or want_row:
        # target-record predicates/projections need the target rows
        fr = _join_target_rows(fr, cat, tables)
        if "where" in opts:
            fr = fr.filter(_truthy_guard(
                _row_expr(opts["where"], params, compile_expr)))
        if opts.get("order") or opts.get("limit") is not None \
                or opts.get("start") is not None:
            fr = fr.withColumn("__prevord", F.col("__ord"))
            fr = _apply_subquery_opts(fr, opts, params, compile_expr)
            fr = fr.drop("__prevord")
    return fr


def _join_target_rows(fr, cat, tables):
    """Attach the target records' columns as __c_<name>.  A `?` wildcard
    (or multi-table list) resolves the candidate tables from the pointers'
    prefixes (scan/graph.rs TargetId: any-table target) — one bounded
    driver action over DISTINCT table names, then per-table joins merged
    with schema-aligning unions."""
    if tables is not None and len(tables) == 1:
        t = cat.table(tables[0])
        if "id" not in t.columns:
            raise LookupError_(f"target table {tables[0]!r} has no id column")
        tgt = t.select(F.col("id").alias("__tid"),
                       *[F.col(c).alias(f"__c_{c}") for c in t.columns])
        return fr.join(tgt, fr["__node"] == tgt["__tid"], "inner").drop("__tid")
    if tables is None:
        tables = [r[0] for r in fr.select(
            _rid_table(F.col("__node")).alias("t")).distinct().collect()
            if r[0]]
    outs = []
    for tb in sorted(tables):
        try:
            t = cat.table(tb)
        except Exception:
            continue
        if "id" not in t.columns:
            continue
        tgt = t.select(F.col("id").alias("__tid"),
                       *[F.col(c).alias(f"__c_{c}") for c in t.columns])
        outs.append(fr.join(tgt, fr["__node"] == tgt["__tid"], "inner")
                    .drop("__tid"))
    if not outs:
        raise LookupError_("row-shaped lookup found no resolvable target")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    return out


def _final_value(fr, cat, state, mode, last_step, last_tables, params,
                 compile_expr, types_of):
    """The per-result value column for the collect, per output mode."""
    _, _, opts = last_step
    if mode[0] == "id" and not (opts.get("fields") or opts.get("star")):
        return fr, (F.col("__eid") if state == "edge" else F.col("__node"))
    # row-shaped output: carried columns must be present
    if not any(c.startswith("__c_") for c in fr.columns):
        raise LookupError_("internal: row mode without carried row columns")
    row_cols = [c[4:] for c in fr.columns if c.startswith("__c_")]
    if opts.get("fields"):
        parts = []
        for fld in opts["fields"]:
            name = fld.alias or _field_default_name(fld.expr)
            parts.append(_row_expr(fld.expr, params, compile_expr).alias(name))
        return fr, F.struct(*parts)
    if mode[0] == "destructure":
        parts = []
        for name, sub in mode[1]:
            if sub and sub[0][0] == "aliased":
                fr, c = _deref_expr(fr, cat, sub[0][1], params, compile_expr)
            elif name in row_cols:
                c = F.col(f"__c_{name}")
            else:
                c = F.lit(None)
            parts.append(c.alias(name))
        return fr, F.struct(*parts)
    # full row (star / field-chain handled by idiom getField downstream)
    return fr, F.struct(*[F.col(f"__c_{c}").alias(c) for c in row_cols])


_DEREF_N = [0]


def _deref_expr(fr, cat, expr, params, compile_expr):
    """Evaluate an aliased-destructure expression over the carried row,
    dereferencing one level of record links (`team.name` — team holds a
    record id).  The link's table comes from sampling one value, the FETCH
    precedent (compiler fetch attach) — an OLTP-bounded driver action."""
    if expr[0] == "ident":
        return fr, F.col(f"__c_{expr[1]}")
    if not (expr[0] == "path" and expr[1][0] == "ident"
            and all(p[0] == "field" for p in expr[2])):
        return fr, _row_expr(expr, params, compile_expr)
    colname = f"__c_{expr[1][1]}"
    chain = [p[1] for p in expr[2]]
    if colname not in fr.columns:
        return fr, F.lit(None)
    sample = fr.select(colname).filter(F.col(colname).isNotNull()).first()
    if sample is None:
        return fr, F.lit(None)
    v = sample[0]
    if not (isinstance(v, str) and ":" in v):
        c = F.col(colname)
        for f_ in chain:
            c = c.getField(f_)
        return fr, c
    tbl = v.split(":", 1)[0]
    t = cat.table(tbl)
    _DEREF_N[0] += 1
    a = f"__dl{_DEREF_N[0]}"
    pick = t.select(F.col("id").alias(f"{a}_id"),
                    F.col(chain[0]).alias(f"{a}_v"))
    fr = fr.join(pick, fr[colname] == pick[f"{a}_id"], "left") \
        .drop(f"{a}_id")
    c = F.col(f"{a}_v")
    for f_ in chain[1:]:
        c = c.getField(f_)
    return fr, c


def _field_default_name(expr) -> str:
    if isinstance(expr, tuple) and expr[0] == "ident":
        return expr[1]
    return "value"


def attach_deref(df: DataFrame, cat, slot: str, col: str,
                 chain: list[str]) -> DataFrame:
    """Record-link dereference: `t.name` where `t` holds a record id —
    one left join against the link's table (value/idiom.rs record deref;
    planner/record_link_index.surql).  The table comes from sampling one
    value (FETCH precedent); rows whose value isn't a record id (or with
    no target row) yield NULL, matching `.field` on a non-record."""
    sample = df.select(col).filter(
        F.col(col).isNotNull() & F.col(col).contains(":")).first()
    if sample is None:
        return df.withColumn(slot, F.lit(None).cast("string"))
    tbl = str(sample[0]).split(":", 1)[0]
    try:
        t = cat.table(tbl)
    except Exception:
        return df.withColumn(slot, F.lit(None).cast("string"))
    if "id" not in t.columns or chain[0] not in t.columns:
        return df.withColumn(slot, F.lit(None).cast("string"))
    c = F.col(chain[0])
    for f_ in chain[1:]:
        c = c.getField(f_)
    _DEREF_N[0] += 1
    a = f"__dr{_DEREF_N[0]}"
    tgt = t.select(F.col("id").alias(f"{a}_id"), c.alias(slot))
    return df.join(tgt, df[col] == tgt[f"{a}_id"], "left").drop(f"{a}_id")


def attach_array_deref(df: DataFrame, cat, slot: str, col: str,
                       fields: list[str], where_ast=None,
                       compile_expr=None, types_of=None,
                       params=None) -> DataFrame:
    """Array-of-record-link projection: `tags.name` / `tags.{id,name}`
    over an `array<string>` record-id column (expr/part.rs Field/
    Destructure over arrays; also `(SELECT f FROM $this.tags WHERE ...)`
    correlated subqueries).  posexplode → one left join against the
    sampled link table → ordered re-collect, so element order survives.
    `fields` of length 1 yields an array of values; longer yields an array
    of `{field: value}` structs.  `where_ast` filters elements against the
    dereferenced record.  Elements that aren't record ids (or have no
    target row) contribute NULL field values, like `.f` on a non-record."""
    if fields == ["id"] and where_ast is None:
        return df.withColumn(slot, F.col(col))
    sample = df.select(F.explode(col).alias("e")) \
        .filter(F.col("e").isNotNull() & F.col("e").contains(":")).first()
    if sample is None:
        return df.withColumn(slot, F.lit(None).cast("array<string>"))
    tbl = str(sample[0]).split(":", 1)[0]
    try:
        t = cat.table(tbl)
    except Exception:
        return df.withColumn(slot, F.lit(None).cast("array<string>"))
    _DEREF_N[0] += 1
    a = f"__adr{_DEREF_N[0]}"
    key, pos, el = f"{a}k", f"{a}p", f"{a}e"
    base = df.withColumn(key, F.monotonically_increasing_id())
    ex = base.select(F.col(key),
                     F.posexplode_outer(F.col(col)).alias(pos, el))
    tgt = t
    for f_ in fields:
        if f_ not in tgt.columns:
            tgt = tgt.withColumn(f_, F.lit(None).cast("string"))
    # string-qualified join keys: repeated derefs against the same table
    # would otherwise trip Spark's ambiguous-self-join detection
    exa, ta = f"{a}x", f"{a}t"
    j = ex.alias(exa).join(tgt.alias(ta),
                           F.col(f"{exa}.{el}") == F.col(f"{ta}.id"),
                           "left")
    if len(fields) == 1:
        val = F.col(f"{ta}.{fields[0]}")
    else:
        val = F.struct(*[F.col(f"{ta}.{f_}").alias(f_) for f_ in fields])
    keep = F.col(pos).isNotNull()
    if where_ast is not None and compile_expr is not None:
        cond = compile_expr(where_ast, params or {}, types_of(tgt))
        keep = keep & F.coalesce(cond, F.lit(False))
    arr = F.transform(
        F.array_sort(F.collect_list(F.when(
            keep, F.struct(F.col(pos).alias("p"), val.alias("v"))))),
        lambda x: x["v"])
    packed = j.groupBy(key).agg(
        arr.alias(f"{a}v"),
        F.max(F.col(pos).isNotNull()).alias(f"{a}has"))
    out = base.join(packed, key, "left") \
        .withColumn(slot, F.when(F.col(f"{a}has"), F.col(f"{a}v"))) \
        .drop(key, f"{a}v", f"{a}has")
    return out


# -- recursive destructure `.{min..max}.{f, g: ->e->t.@}` ---------------------


def recursive_destructure_value(spark, cat, start_rid: str, bounds,
                                destr_fields: list):
    """`rid.{..max}.{name, kids: ->edge->tbl.@}` — nested-tree assembly
    for ONE root record (recursion.rs Part::RepeatRecurse;
    graph/destructure_recursive.surql)."""
    return recursive_destructure_trees(
        spark, cat, [start_rid], bounds, destr_fields).get(start_rid)


def recursive_destructure_trees(spark, cat, start_rids: list, bounds,
                                destr_fields: list) -> dict:
    """Nested-tree assembly for a SET of root records sharing ONE BFS
    (recursion.rs Part::RepeatRecurse; idiom/recursion_graph.surql
    `SELECT VALUE @{..}.{...} FROM person` recurses every row).

    The result is a recursively-typed document (unbounded nesting), which
    no static Spark schema can carry — so this is the OLTP point-query
    path: a level-wise distributed BFS collects the reachable closure
    (one filtered edge scan per level — same frontier pattern as
    recurse_value, shared across ALL roots, so N roots cost the same
    scans as one), then each tree assembles driver-side from the
    collected maps.  Work is bounded by the roots' reachable subgraph,
    not the table size; every materialization is loudly capped."""
    from surrealdb_spark.values import key_sort_text, strip_absent

    lo, hi = bounds
    hi_eff = RECURSION_LIMIT if hi is None else min(hi, RECURSION_LIMIT)

    # per-field traversal steps: (name, [(dir, edge, target), ...])
    trav: dict[str, list] = {}
    posts: dict[str, tuple] = {}  # per-field value post-closure (.chain)
    plain: list[str] = []
    for name, sub in destr_fields:
        if sub and sub[0][0] == "aliased":
            path = sub[0][1]
            if (isinstance(path, tuple) and path[0] == "method"
                    and path[1] == "chain" and path[3]
                    and isinstance(path[3][0], tuple)
                    and path[3][0][0] == "closure"):
                # `contains.@.chain(|$v| ...)` — post-map each recursion
                # value through the closure (driver tree assembly)
                posts[name] = path[3][0]
                path = path[2]
            if not (path[0] == "path" and path[2]
                    and path[2][-1] == ("repeat",)):
                raise LookupError_(
                    "recursive destructure supports plain fields and "
                    "`->edge->tbl.@` / `linkfield.@` traversal fields")
            if (path[1][0] == "ident" and len(path[2]) == 1):
                # `children.@` — record-link recursion (idiom.rs Recurse
                # over a link field holding record id(s))
                trav[name] = ("link", path[1][1])
                continue
            singles = [p[1] for p in path[2][:-1] if p[0] == "graph"]
            if len(singles) != len(path[2]) - 1 or len(singles) > 2:
                raise LookupError_(
                    "traversal field must be ONE ->edge->tbl pair")
            d1, s1, _ = singles[0]
            tgt = "?"
            if len(singles) == 2:
                _, s2, _ = singles[1]
                tgt = (s2 or ["?"])[0]
            trav[name] = ("edge", d1, (s1 or ["?"])[0], tgt)
        elif sub and sub[0][0] == "destructure":
            # nested destructure whose entries are `x: x.@` link
            # recursions (`links.{ a: a.@ }` —
            # idiom/recursion_nested_destructure.surql; recursion.rs
            # RepeatRecurse inside Part::Destructure)
            inners: list[str] | None = []
            for iname, isub in sub[0][1]:
                p = isub and isub[0][0] == "aliased" and isub[0][1]
                if (isinstance(p, tuple) and p[0] == "path"
                        and p[1] == ("ident", iname)
                        and list(p[2]) == [("repeat",)]):
                    inners.append(iname)
                else:
                    inners = None
                    break
            if inners is None:
                raise LookupError_(
                    "nested recursive destructure supports `x: x.@` "
                    "entries only")
            trav[name] = ("nested", inners)
        else:
            plain.append(name)

    # BFS: collect children maps per traversal field, level by level
    # (one filtered scan per level per field — the recurse_value frontier
    # pattern, bounded by the root's reachable subgraph).  This is an
    # OLTP point-query path (one root record's tree); a celebrity node
    # would blow the driver, so every materialization is LOUDLY capped —
    # same contract as statements._bounded_collect.
    def _capped(df, what: str) -> list:
        rows = df.limit(_DESTRUCTURE_CAP + 1).collect()
        if len(rows) > _DESTRUCTURE_CAP:
            raise LookupError_(
                f"recursive destructure {what} exceeds the "
                f"{_DESTRUCTURE_CAP}-row driver cap — the reachable "
                "subgraph is too large for a point-query tree assembly"
            )
        return rows

    def _fetch_rows(ids: set) -> dict:
        got: dict = {}
        by_tb: dict[str, list] = {}
        for rid in ids:
            by_tb.setdefault(str(rid).split(":", 1)[0], []).append(rid)
        for tb, tids in by_tb.items():
            try:
                t = cat.table(tb)
            except Exception:
                continue
            if "id" not in t.columns:
                continue
            for r in _capped(t.filter(F.col("id").isin(tids)),
                             f"row fetch ({tb})"):
                got[r["id"]] = strip_absent(r.asDict(recursive=True))
        return got

    children: dict[str, dict[str, list]] = {n: {} for n in trav}
    rowmap: dict[str, dict] = _fetch_rows(set(start_rids))
    frontier = set(start_rids)
    seen = set(start_rids)
    depth_reached = 1
    for _depth in range(hi_eff):
        if not frontier:
            break
        nxt: set = set()
        for name, spec in trav.items():
            if spec[0] == "link":
                fldname = spec[1]
                for rid in frontier:
                    row0 = rowmap.get(rid, {})
                    if fldname not in row0:
                        # absent link field: the leaf renders NONE, not []
                        children[name][rid] = None
                        continue
                    v = row0.get(fldname)
                    kids = v if isinstance(v, list) else (
                        [v] if v is not None else [])
                    kids = [k for k in kids
                            if isinstance(k, str) and ":" in k]
                    children[name][rid] = kids
                    nxt.update(kids)
                continue
            if spec[0] == "nested":
                for rid in frontier:
                    row0 = rowmap.get(rid, {})
                    node = row0.get(name)
                    if not isinstance(node, dict):
                        children[name][rid] = None
                        continue
                    got: dict = {}
                    for iname in spec[1]:
                        v = node.get(iname)
                        kids = v if isinstance(v, list) else (
                            [v] if v is not None else [])
                        kids = [k for k in kids
                                if isinstance(k, str) and ":" in k]
                        got[iname] = kids
                        nxt.update(kids)
                    children[name][rid] = got
                continue
            _, dirn, edge, target = spec
            ids = sorted(frontier)
            e = edge_df(cat, edge)
            if e is None:
                continue
            here, there = ("in", "out") if dirn == "out" else ("out", "in")
            hop = (e.filter(F.col(here).isin(ids))
                   .select(F.col(here).alias("src"),
                           F.col(there).alias("dst"),
                           F.col("id").alias("eid")))
            if target != "?":
                hop = hop.filter(_rid_table(F.col("dst")) == target)
            for r in sorted(
                    _capped(hop, f"edge frontier ({edge})"),
                    key=lambda r: key_sort_text(
                        str(r["eid"]).split(":", 1)[1])):
                children[name].setdefault(r["src"], []).append(r["dst"])
                nxt.add(r["dst"])
        frontier = nxt - seen
        seen |= nxt
        if frontier:
            depth_reached += 1
        rowmap.update(_fetch_rows(frontier))

    def assemble(rid: str, depth: int, path: tuple):
        """(tree, deepest-node-depth on any simple path through rid).
        Branches whose subtree can't reach the MIN depth are pruned
        (recursion.rs min-depth pruning — `a:1.{3}` drops dead ends)."""
        row = rowmap.get(rid, {})
        out = {}
        deepest = depth

        def _kids_out(ikids):
            nonlocal deepest
            kids = [k for k in ikids if k not in path]
            if depth >= hi_eff:
                return kids  # bound reached: bare ids
            pairs = [assemble(k, depth + 1, path + (rid,)) for k in kids]
            for _t, dd in pairs:
                deepest = max(deepest, dd)
            if lo is not None:
                pairs = [(t, dd) for t, dd in pairs if dd >= lo]
            return [t for t, _dd in pairs]

        for name, sub in destr_fields:
            if name in trav:
                got = children[name].get(rid, [])
                if got is None:
                    out[name] = None
                elif isinstance(got, dict):
                    # nested `links.{ a: a.@ }` — per-inner-field lists
                    out[name] = {iname: _kids_out(ikids)
                                 for iname, ikids in got.items()}
                else:
                    out[name] = _kids_out(got)
            elif name in row:
                out[name] = row[name]
            if name in posts and name in out:
                from surrealdb_spark import pyeval as _PE

                cl = posts[name]
                out[name] = _PE.peval(cl[2], {cl[1][0]: out[name]})
        return out, deepest

    out: dict = {}
    for rid in start_rids:
        result, dd = assemble(rid, 1, ())
        if lo is not None and lo > max(dd, depth_reached):
            # the tree is shallower than the minimum depth: no result
            # (recursion.rs min bound; recursion_record_links `{5..}`)
            out[rid] = None
        else:
            out[rid] = result
    return out


# -- bounded recursion `.{min..max}[+instr](->edge->tbl)` ---------------------
#
# Reference semantics (core/src/exec/operators/recursion.rs; verified
# against language-tests/tests/language/graph/{depth_*,path_*,cycles_*,
# collect_min_depth,range_simple}.surql):
#   - no instruction → the frontier at the FINAL depth (max, or the last
#     non-empty level on dead end), traversal-ordered, duplicates kept;
#   - +collect → all nodes over depths [min..max], deduplicated, ordered
#     by proximity (first-reach depth, then traversal order);
#   - +path → every terminated path (dead end or max depth) as an array
#     of record ids excluding the start (+inclusive prepends it), ordered
#     by (termination depth, traversal order);
#   - +shortest=<rid> → the shortest path to the target as an id array
#     (NONE when unreachable);
#   - unbounded `..` applies the per-path no-revisit cycle rule
#     (recursion.rs:8-15) and the depth cap 256 (cnf/mod.rs:53).


RECURSION_LIMIT = 256
# Broadcast budget for a recursion's per-step hop projection (3 record-id
# string columns): same rationale/order as graph.BCAST_EDGE_MAX_ROWS — the
# checkpointed projection has no stats, so the planner would sort-merge
# every level without the hint; above the budget its choice stands.
_BCAST_HOP_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_RECURSE_BCAST_ROWS", "1000000")
)


def validate_recursion_bounds(lo, hi) -> None:
    """Reference bound checks (cnf/mod.rs IDIOM_RECURSION_LIMIT;
    idiom/recursion_limits.surql error shapes)."""
    if lo is not None and lo < 1:
        raise LookupError_(
            f"Found {lo} for bound but expected at least 1.")
    if hi is not None and hi > RECURSION_LIMIT:
        raise LookupError_(
            f"Found {hi} for bound but expected {RECURSION_LIMIT} at most.")


def _driver_chain_recurse(df: DataFrame, cat, slot: str, base, rng, instr,
                        steps, trailing_field, params, compile_expr):
    """OLTP fast path: `{n..m}` repeat over SCALAR record-link fields
    (`a:1.{..}.link`) walks driver-side over ONE bounded collect of the
    link columns instead of up-to-256 sequential Spark joins — the
    reference's KV pointer-chase equivalent (recursion.rs repeat over
    Thing values).  Returns None (bail to the distributed level loop)
    when the shape doesn't apply or a cap trips; the distributed loop
    remains the 100 TB path for real graph frontiers.
    """
    lo, hi = rng
    lo_eff = max(1 if lo is None else lo, 1)
    unbounded = hi is None
    hi_eff = RECURSION_LIMIT if unbounded else min(hi, RECURSION_LIMIT)
    if instr.get("kind", "last") != "last" or "shortest" in instr \
            or instr.get("inclusive") or trailing_field is not None:
        return None
    if not steps or not all(s[0] == "link" for s in steps):
        return None
    fields = [s[1] for s in steps]
    spark = df.sparkSession

    try:
        seed = _seed_col(base, params, compile_expr)
        roots = df.select(F.col("id").alias("__rk"),
                          seed.alias("__seed")).distinct() \
            .limit(10_001).collect()
    except Exception:
        return None
    if len(roots) > 10_000:
        return None

    maps: dict[str, dict] = {}

    def table_map(tb: str) -> dict | None:
        if tb in maps:
            return maps[tb]
        if len(maps) >= 8:
            return None
        try:
            t = cat.table(tb)
        except Exception:
            maps[tb] = {}
            return maps[tb]
        if "id" not in t.columns:
            maps[tb] = {}
            return maps[tb]
        rows = t.limit(20_001).collect()
        if len(rows) > 20_000:
            return None  # too big for a driver map — distributed path
        maps[tb] = {r["id"]: r.asDict(recursive=True) for r in rows}
        return maps[tb]

    out_rows = []
    for r in roots:
        node = r["__seed"]
        if not isinstance(node, str) or ":" not in node:
            out_rows.append((r["__rk"], None))
            continue
        visited = {node}
        depth = 0
        while depth < hi_eff:
            cur = node
            dead = False
            for chain in fields:
                # one link hop: deref the current record, follow the
                # field chain (nested structs deref record ids en route)
                tb = str(cur).partition(":")[0]
                m = table_map(tb)
                if m is None:
                    return None  # cap tripped: distributed path
                val = m.get(cur)
                for f_ in chain:
                    if isinstance(val, str) and ":" in val:
                        m2 = table_map(str(val).partition(":")[0])
                        if m2 is None:
                            return None
                        val = m2.get(val)
                    if not isinstance(val, dict):
                        val = None
                        break
                    val = val.get(f_)
                if isinstance(val, list):
                    return None  # array hop: not a scalar chain
                if not isinstance(val, str) or ":" not in val:
                    dead = True
                    break
                cur = val
            if dead:
                break
            if unbounded and cur in visited:
                break  # cycle rule: a path never revisits its own node
            depth += 1
            node = cur
            visited.add(cur)
        if unbounded and depth >= RECURSION_LIMIT:
            # one more live hop means the reference would keep going —
            # that's the recursion limit error (cnf/mod.rs:53)
            cur, alive = node, True
            for chain in fields:
                tb = str(cur).partition(":")[0]
                m = table_map(tb)
                if m is None:
                    return None
                val = m.get(cur)
                for f_ in chain:
                    if isinstance(val, str) and ":" in val:
                        m2 = table_map(str(val).partition(":")[0])
                        if m2 is None:
                            return None
                        val = m2.get(val)
                    if not isinstance(val, dict):
                        val = None
                        break
                    val = val.get(f_)
                if isinstance(val, str) and ":" in val:
                    cur = val
                else:
                    alive = False
                    break
            if alive and cur not in visited:
                raise LookupError_(
                    f"Exceeded the idiom recursion limit of "
                    f"{RECURSION_LIMIT}.")
        out_rows.append((r["__rk"], node if depth >= lo_eff else None))

    res = local_frame(spark, out_rows, f"__rk string, `{slot}` string")
    return df.join(res, df["id"] == res["__rk"], "left").drop("__rk")


def recurse_value(df: DataFrame, cat, slot: str, base, rng, instr, steps,
                  trailing_field: str | None, params, compile_expr):
    """Attach the recursion result for each row of ``df`` as ``slot``.

    One Spark join per (depth × pair-step) with eager localCheckpoint per
    level (lineage truncation — the GraphFrames iteration pattern); no
    driver-side row loops, so the same plan runs on a 1000-executor
    frontier.
    """
    lo, hi = rng
    validate_recursion_bounds(lo, hi)
    lo = 0 if lo is None else lo
    unbounded = hi is None
    hi_eff = RECURSION_LIMIT if unbounded else min(hi, RECURSION_LIMIT)
    kind = instr.get("kind", "last")
    fast = _driver_chain_recurse(df, cat, slot, base, (lo, hi), instr,
                                 steps, trailing_field, params,
                                 compile_expr)
    if fast is not None:
        return fast
    if "shortest" in instr:
        kind = "shortest"
    no_revisit = unbounded
    inclusive = bool(instr.get("inclusive"))

    seed = _seed_col(base, params, compile_expr)
    frontier = df.select(
        F.col("id").alias("__rk"), seed.alias("__seed"),
        seed.alias("__node"), F.lit("").alias("__ord"),
        F.array(seed).alias("__path"),
    ).distinct().localCheckpoint(eager=True)

    levels: list[DataFrame] = []
    reached = 0
    scalar_chain = all(s[0] == "link" for s in steps)
    # Per-step hop projections built ONCE, not once per level (r13): each
    # level's job otherwise re-resolves and re-scans the edge source, and
    # — the frontier being a checkpointed RDD with no size statistics —
    # sort-merge-joins it every level.  Multi-level traversals materialize
    # the projection (one count job doubles as the materializer) and
    # broadcast-hint it under the same row budget graph.recurse uses.
    hops: dict[int, tuple] = {}
    hop_counts: list[int] = []
    for si, step in enumerate(steps):
        if step[0] == "link":
            continue
        (dirn, edge, target) = step
        e = edge_df(cat, edge)
        if e is None:
            hops[si] = None
            continue
        here, there = ("in", "out") if dirn == "out" else ("out", "in")
        hop = e.select(
            F.col(here).alias("__src"), F.col(there).alias("__dst"),
            F.concat(F.lit(edge), F.lit(SEP), _kv_key(F.col("id"))
                     ).alias("__piece"),
        )
        if target != "?":
            hop = hop.filter(_rid_table(F.col("__dst")) == target)
        if hi_eff >= 2:
            hop = hop.localCheckpoint(eager=False)
            n_hop = hop.count()
            hop_counts.append(n_hop)
            if n_hop <= _BCAST_HOP_MAX_ROWS:
                hop = F.broadcast(hop)
        hops[si] = hop
    # Lazy-level mode (r13): for a small, BOUNDED default-kind recursion
    # over edge steps only, skip every per-level checkpoint/probe job and
    # resolve "the last non-empty level" inside the ONE final job (filter
    # against a broadcast scalar max(__depth)).  A depth-d lazy plan
    # recomputes level k in levels k..d, so it is gated on small hop
    # tables (broadcast-cheap recompute) and small d; the materialized
    # loop below stays the scale path, and cycle/timeout semantics
    # (unbounded) always take it.
    lazy_levels = (
        kind == "last"
        and not no_revisit
        and 2 <= hi_eff <= 8
        and steps
        and all(s[0] != "link" for s in steps)
        and all(hops.get(i) is not None for i in range(len(steps)))
        and hop_counts
        and max(hop_counts) <= _BCAST_HOP_MAX_ROWS
    )
    for depth in range(1, hi_eff + 1):
        nxt = frontier
        for si, step in enumerate(steps):
            if step[0] == "link":
                nxt, was_scalar = _link_hop(nxt, cat, step[1])
                scalar_chain = scalar_chain and was_scalar
                continue
            hop = hops[si]
            if hop is None:
                nxt = nxt.limit(0)
                break
            nxt = (
                nxt.join(hop, nxt["__node"] == hop["__src"])
                .select(
                    "__rk", "__seed",
                    F.col("__dst").alias("__node"),
                    F.concat(F.col("__ord"), F.lit(SEP),
                             F.col("__piece")).alias("__ord"),
                    F.array_append(F.col("__path"),
                                   F.col("__dst")).alias("__path"),
                )
            )
        if no_revisit:
            revisits = F.array_contains(
                F.slice(F.col("__path"), 1,
                        F.size(F.col("__path")) - 1), F.col("__node"))
            if kind == "last" and params.get("__timeout_ns__"):
                # plain `{..}` RepeatRecurse never converges on a cyclic
                # graph — the reference spins until TIMEOUT fires
                # (graph/timeout.surql expects the timeout error); a
                # detected cycle makes the timeout inevitable, so raise
                # deterministically instead of burning wall-clock
                if not nxt.filter(revisits).isEmpty():
                    raise LookupError_(
                        "The query was not executed because it exceeded "
                        "the timeout")
            # cycle rule: a path never revisits one of its own nodes
            nxt = nxt.filter(~revisits)
        if lazy_levels:
            levels.append(nxt.withColumn("__depth", F.lit(depth)))
            frontier = nxt
            continue
        # ONE job per level (r13): count() both materializes the lazily-
        # marked checkpoint (every partition computed and persisted under
        # it — same lineage truncation as eager) and answers the emptiness
        # probe, where eager-checkpoint + isEmpty paid two driver rounds.
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        reached = depth
        levels.append(nxt.withColumn("__depth", F.lit(depth)))
        frontier = nxt

    spark = df.sparkSession
    if kind == "last":
        if lazy_levels:
            allr = levels[0]
            for lv in levels[1:]:
                allr = allr.unionByName(lv)
            allr = allr.select("__rk", "__node", "__ord", "__depth")
            # last non-empty level ≡ rows at the global max depth, gated
            # on the min bound — the same levels[-1]/reached logic, but
            # decided inside the plan instead of by driver probes.
            mx = allr.agg(F.max("__depth").alias("__mx"))
            rows = (
                allr.crossJoin(F.broadcast(mx))
                .filter(
                    (F.col("__depth") == F.col("__mx"))
                    & (F.col("__mx") >= max(lo, 1))
                )
                .select("__rk", "__node", "__ord", "__depth")
            )
        elif not levels or reached < max(lo, 1):
            rows = local_frame(
                spark, [], "__rk string, __node string, __ord string, __depth int")
        else:
            rows = levels[-1].select("__rk", "__node", "__ord", "__depth")
        out = _nest_nodes(df, cat, slot, rows, steps, trailing_field,
                          sort_by_depth=False)
        if scalar_chain:
            # a scalar record-link chain repeats to a VALUE, not an array
            # (idiom repeat over non-array values; graph/
            # recursion_record_links.surql `.{..}.parent` → org:company)
            out = out.withColumn(slot, F.try_element_at(F.col(slot),
                                                        F.lit(1)))
        return out
    if kind == "collect":
        # min-depth gate: `.{2..+collect}` collects depths >= 2 only
        # (graph/collect_min_depth.surql)
        parts = [lv.select("__rk", "__node", "__ord", "__depth")
                 for d, lv in enumerate(levels, start=1) if d >= max(lo, 1)]
        if inclusive:
            base_rows = df.select(
                F.col("id").alias("__rk"),
                _seed_col(base, params, compile_expr).alias("__node"),
                F.lit("").alias("__ord"), F.lit(0).alias("__depth"))
            parts = [base_rows] + parts
        if not parts:
            rows = local_frame(
                spark, [], "__rk string, __node string, __ord string, __depth int")
        else:
            rows = parts[0]
            for p in parts[1:]:
                rows = rows.unionByName(p)
            # dedup: keep each node's first reach (min depth, then order)
            w = Window.partitionBy("__rk", "__node").orderBy(
                F.col("__depth").asc(), F.col("__ord").asc())
            rows = rows.withColumn("__rn", F.row_number().over(w)) \
                .filter(F.col("__rn") == 1).drop("__rn")
        return _nest_nodes(df, cat, slot, rows, steps, trailing_field,
                           sort_by_depth=True)
    if kind == "path":
        if not levels:
            return df.withColumn(slot, F.array().cast("array<array<string>>"))
        leaves = _terminated_paths(levels, hi_eff)
        if trailing_field is not None and trailing_field[0] == "field":
            # `.{n+path}(...).name` — each path element derefs through
            # its record's field (multi-table union map;
            # idiom/recursion_record_links.surql)
            leaves = _map_path_field(leaves, cat, trailing_field[1])
        if inclusive:
            val = F.col("__path")
        else:
            val = F.slice(F.col("__path"), 2,
                          F.greatest(F.size(F.col("__path")) - 1, F.lit(0)))
        agg = (
            leaves.select(
                "__rk",
                F.struct(
                    F.col("__depth").alias("d"), F.col("__ord").alias("o"),
                    val.alias("v")).alias("__s"))
            .groupBy("__rk")
            .agg(F.transform(F.array_sort(F.collect_list("__s")),
                             lambda x: x["v"]).alias(slot))
        )
        out = df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
        return out.withColumn(slot, F.coalesce(
            F.col(slot), F.array().cast("array<array<string>>")))
    if kind == "shortest":
        tgt = instr["shortest"]
        if tgt[0] == "param":
            # `+shortest=$rid` — the target resolves from the bound
            # parameter (recursion_shortest_path.surql)
            tgt_val = str(params.get(tgt[1]))
        else:
            tgt_val = tgt[1] if tgt[0] in ("lit", "ulit") else str(tgt[1])
        hits = None
        for lv in levels:
            h = lv.filter(F.col("__node") == F.lit(tgt_val)).select(
                "__rk", "__ord", "__path", "__depth")
            hits = h if hits is None else hits.unionByName(h)
        if hits is None:
            hits = local_frame(
                spark, [], "__rk string, __ord string, __path array<string>, "
                    "__depth int")
        hits = hits.localCheckpoint(eager=True)
        if hits.isEmpty() and not unbounded and levels:
            # target unreached within the bound: the recursion stops at the
            # bound and yields the frontier PATHS, nested like +path
            # (golden: graph/path_shortest.surql `.{..3+shortest=...}`)
            leaves = levels[-1]
            val = F.col("__path") if inclusive else F.slice(
                F.col("__path"), 2,
                F.greatest(F.size(F.col("__path")) - 1, F.lit(0)))
            agg = (
                leaves.select("__rk", F.struct(
                    F.col("__ord").alias("o"), val.alias("v")).alias("__s"))
                .groupBy("__rk")
                .agg(F.transform(F.array_sort(F.collect_list("__s")),
                                 lambda x: x["v"]).alias(slot))
            )
            return df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
        w = Window.partitionBy("__rk").orderBy(
            F.col("__depth").asc(), F.col("__ord").asc())
        best = hits.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1)
        val = F.col("__path") if inclusive else F.slice(
            F.col("__path"), 2, F.greatest(F.size(F.col("__path")) - 1,
                                           F.lit(0)))
        agg = best.select("__rk", val.alias(slot))
        return df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
    raise LookupError_(f"unknown recursion kind {kind!r}")


def _terminated_paths(levels: list[DataFrame], hi: int) -> DataFrame:
    """Paths that ended: no child at the next level (dead end) or at the
    depth bound.  Linked by parent path (child path minus its last node)."""
    outs = []
    for i, lv in enumerate(levels):
        if i + 1 < len(levels):
            child_parents = levels[i + 1].select(
                F.col("__rk").alias("__crk"),
                F.slice(F.col("__path"), 1,
                        F.size(F.col("__path")) - 1).alias("__ppath"),
            ).distinct()
            dead = lv.join(
                child_parents,
                (lv["__rk"] == child_parents["__crk"])
                & (lv["__path"] == child_parents["__ppath"]),
                "left_anti",
            )
            outs.append(dead.select("__rk", "__ord", "__path", "__depth"))
        else:
            outs.append(lv.select("__rk", "__ord", "__path", "__depth"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _map_path_field(leaves, cat, field: str):
    """Replace every record id in ``__path`` with that record's ``field``
    value (order-preserving; ids may span tables)."""
    ex = leaves.select(
        "__rk", "__ord", "__depth",
        F.posexplode("__path").alias("__pp", "__pe"))
    frames = []
    for tbl in _frontier_tables(ex, col="__pe"):
        try:
            t = cat.table(tbl)
        except Exception:
            continue
        tv = (F.col(field) if field in t.columns else F.lit(None)) \
            .cast("string")
        frames.append(t.select(F.col("id").alias("__tid"),
                               tv.alias("__tv")))
    if not frames:
        return leaves
    tgt = frames[0]
    for f2 in frames[1:]:
        tgt = tgt.unionByName(f2)
    mapped = (ex.join(tgt, ex["__pe"] == tgt["__tid"], "left")
              .groupBy("__rk", "__ord", "__depth")
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct(F.col("__pp").alias("p"),
                               F.col("__tv").alias("v")))),
                  lambda x: x["v"]).alias("__path")))
    return mapped


def _frontier_tables(fr, col="__node", cap=32) -> list[str]:
    """Distinct record-id tables present in a frontier column (a
    bounded-cardinality driver peek — tables, not rows)."""
    rows = fr.select(
        F.split(F.col(col).cast("string"), ":", 2).getItem(0).alias("t")
    ).filter(F.col("t").isNotNull() & F.contains(
        F.col(col).cast("string"), F.lit(":"))).distinct() \
        .limit(cap + 1).collect()
    tables = [r["t"] for r in rows if r["t"]]
    if len(tables) > cap:
        raise ValueError(
            f"graph frontier spans more than {cap} distinct tables; "
            "refusing to truncate traversal branches")
    return tables


def _link_hop(fr, cat, chain: list[str]):
    """One record-link hop: join the nodes' tables and follow the field
    chain; array-valued links (children) flatten with positional order.
    Returns (frontier, was_scalar).  Frontier nodes may span SEVERAL
    tables (mixed-table link trees — idiom/recursion_record_links.surql),
    so the link side is the union of every frontier table's frame."""
    from pyspark.sql.types import ArrayType

    parts = []
    any_array = False
    for tbl in _frontier_tables(fr):
        try:
            t = cat.table(tbl)
        except Exception:
            continue
        if chain[0] not in t.columns or "id" not in t.columns:
            continue
        c = F.col(chain[0])
        for f_ in chain[1:]:
            c = c.getField(f_)
        part = t.select(F.col("id").alias("__lid"), c.alias("__lv"))
        arr = isinstance(part.schema["__lv"].dataType, ArrayType)
        any_array = any_array or arr
        parts.append((part, arr))
    if not parts:
        return fr.limit(0), True
    is_array = any_array
    norm = []
    for part, arr in parts:
        if any_array and not arr:
            part = part.select(
                "__lid", F.when(F.col("__lv").isNotNull(),
                                F.array(F.col("__lv").cast("string")))
                .alias("__lv"))
        elif any_array:
            part = part.select("__lid",
                               F.col("__lv").cast("array<string>")
                               .alias("__lv"))
        else:
            part = part.select("__lid",
                               F.col("__lv").cast("string").alias("__lv"))
        norm.append(part)
    tgt = norm[0]
    for p2 in norm[1:]:
        tgt = tgt.unionByName(p2)
    joined = fr.join(tgt, fr["__node"] == tgt["__lid"]).drop("__lid")
    if is_array:
        joined = joined.select(
            *[c2 for c2 in joined.columns if c2 != "__lv"],
            F.posexplode(F.col("__lv")).alias("__lp", "__lv"))
        piece = F.lpad(F.col("__lp").cast("string"), 8, "0")
    else:
        piece = _kv_key(F.col("__lv"))
    joined = joined.filter(F.col("__lv").isNotNull())
    out = joined.select(
        "__rk", "__seed", F.col("__lv").alias("__node"),
        F.concat(F.col("__ord"), F.lit(SEP), piece).alias("__ord"),
        F.array_append(F.col("__path"), F.col("__lv")).alias("__path"),
    )
    return out, not is_array


def _nest_nodes(df, cat, slot, rows, steps, trailing, sort_by_depth):
    """Group per-source node rows back into an ordered array column.
    ``trailing`` is None, ("field", f), or ("destructure", entries) —
    applied to the reached records (a target-table join)."""
    order = [F.col("__depth").alias("d"), F.col("__ord").alias("o")] \
        if sort_by_depth else [F.col("__ord").alias("o")]
    if trailing is not None:
        if steps[-1][0] == "link":
            targets = _frontier_tables(rows)
        else:
            targets = [steps[-1][2]] if steps[-1][2] else []
        def _frame(target, force_str):
            t = cat.table(target)
            if trailing[0] == "field":
                tv = (F.col(trailing[1]) if trailing[1] in t.columns
                      else F.lit(None))
                if force_str:
                    tv = tv.cast("string")
                return t.select(F.col("id").alias("__tid"),
                                tv.alias("__tv"))
            picks = []
            for n, _sub in trailing[1]:
                c2 = F.col(n) if n in t.columns else F.lit(None)
                if force_str:
                    c2 = c2.cast("string")
                picks.append(c2.alias(n))
            return t.select(F.col("id").alias("__tid"),
                            F.struct(*picks).alias("__tv"))

        frames = []
        for target in targets:
            try:
                frames.append(_frame(target, len(targets) > 1))
            except Exception:
                continue
        if not frames:
            val = F.lit(None)
        else:
            tgt = frames[0]
            for f2 in frames[1:]:
                tgt = tgt.unionByName(f2)
            val = F.col("__tv")
            rows = rows.join(tgt, rows["__node"] == tgt["__tid"], "left")
    else:
        val = F.col("__node")
    agg = (
        rows.select("__rk", F.struct(*order, val.alias("v")).alias("__s"))
        .groupBy("__rk")
        .agg(F.transform(F.array_sort(F.collect_list("__s")),
                         lambda x: x["v"]).alias(slot))
    )
    out = df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
    empty = F.array().cast(dict(agg.dtypes).get(slot, "array<string>"))
    return out.withColumn(slot, F.coalesce(F.col(slot), empty))
