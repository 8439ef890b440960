"""ES aggregation TREES (SURVEY §2.5 Q14 widened): bucket aggregations with
metric sub-aggregations, two-level bucket nesting, metric-ordered buckets,
and sibling metric sets — the canonical ES ``aggs`` request shape that the
single-agg facet path (operators/facets.py, operators/aggs.py) does not
cover.

Reference analog: aggregations run inside the delegated ES
(ElasticsearchSink.java:54,66); a 1.x client nests them freely::

    {"query": {"match": {"text": "..."}},
     "aggs": {"by_lang": {
         "terms": {"field": "lang", "size": 10},
         "aggs": {"avg_chars": {"avg": {"field": "n_chars"}},
                  "by_source": {"terms": {"field": "source", "size": 3},
                                "aggs": {"sum_chars": {"sum": {"field": "n_chars"}}}}}}}}

Supported tree shapes (anything else raises ``ValueError`` loudly):

* root: ONE bucket agg — ``terms`` (``field``, ``size``, ``order`` by
  ``_count`` / ``_term`` / a sibling metric's name) or ``histogram``
  (``field``, ``interval``; buckets key-ascending, occupied buckets only,
  i.e. ``min_doc_count: 1``) — or NO bucket: a set of sibling METRIC aggs
  (one global row).
* metrics (any number, at root and/or child level): ``avg`` / ``sum`` /
  ``min`` / ``max`` / ``value_count`` / ``stats`` over a stored numeric
  field. Missing values are ignored (ES extracted-value semantics):
  ``value_count`` counts non-null, ``avg``/``min``/``max`` of an all-null
  bucket are NULL, ``sum`` is 0.0 (ES returns 0 for empty sums).
* child: at most ONE nested bucket agg (terms/histogram) under the root,
  carrying its own metric sub-aggs; grandchild buckets refuse.

Result frame (ES returns a JSON tree; the engine flattens): one row per
leaf bucket — root key column named by the root agg's name,
``<rootname>_count``, root metric columns named by their agg names
(``stats`` expands to ``<name>_count/_min/_max/_sum/_avg``), then the
child key/count/metric columns. Parents whose buckets contain no child
rows keep one row with NULL child columns (LEFT JOIN flattening). Bucket
keys that are NULL never form buckets (ES drops docs missing the field —
deliberately unlike the 1.x facet path, which pins a NULL bucket).

Floats: ``sum``/``avg`` are rounded to 6 decimals as double; over integer
fields every partial sum is exact, so Spark, the serving path and the
DuckDB oracle agree bit-for-bit. Over double fields the re-association of
the sum is engine-dependent (ES makes the same non-guarantee); oracle
entries pin integer metric fields.

Scale shape (100 TB): ONE wide shuffle — the scoped scan aggregates
map-side-combined at the finest (root_key, child_key) level with
count/sum/min/max PARTIALS per metric field; the parent level re-aggregates
those partials (rows bounded by key-pair cardinality, never docs), so the
corpus is scanned exactly once. Bucket selection is orderBy+limit
(TakeOrdered, no single-partition window over the full bucket set); the
selected ≤size parent page broadcast-joins back to the child partials. The
serving path (``agg_tree_index``) emits the same finest-level partials per
index shard from postings doc-stream decode + a stored-field columnar read
(the IndexSearcher.facet shape) and merges them into the identical
finisher.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .facets import _match_sql, match_condition

__all__ = [
    "agg_tree", "agg_tree_sql", "agg_tree_index", "parse_agg_tree",
    "tree_shaped",
]

_METRIC_KINDS = ("avg", "sum", "min", "max", "value_count", "stats")
_BUCKET_KINDS = ("terms", "histogram")
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _err(msg: str):
    # "unsupported DSL" prefix keeps the module's loud-rejection contract
    # regex-compatible with the dsl front door that delegates here.
    raise ValueError(f"unsupported DSL agg tree: {msg}")


@dataclass
class _Metric:
    name: str
    kind: str
    field: str


@dataclass
class _Bucket:
    name: str
    kind: str  # terms | histogram
    field: str
    size: int = 10
    interval: int = 0
    order: tuple[str, str] | None = None  # (_count|_term|<metric name>, asc|desc)
    metrics: list[_Metric] = dc_field(default_factory=list)


@dataclass
class _Tree:
    query: str | None
    mode: str
    root: _Bucket | None  # None => sibling-metrics mode
    metrics: list[_Metric]  # global metrics when root is None, else root.metrics
    child: _Bucket | None


def _agg_dict(node: dict, what: str) -> dict:
    aggs = node.get("aggs", node.get("aggregations"))
    if aggs is None and what == "body":
        aggs = node.get("facets")
    if not isinstance(aggs, dict) or not aggs:
        _err(f"{what} needs a non-empty aggs object")
    return aggs


def _check_name(name: str) -> str:
    if not _NAME_RE.match(name):
        _err(f"agg name {name!r} (column-safe identifiers only)")
    return name


def _parse_metric(name: str, kind: str, conf: Any) -> _Metric:
    if not isinstance(conf, dict):
        _err(f"metric {name!r} needs an options object")
    extra = set(conf) - {"field"}
    if extra:
        _err(f"metric {name!r} options {sorted(extra)}")
    f = conf.get("field")
    if not isinstance(f, str) or not f:
        _err(f"metric {name!r} needs a field")
    return _Metric(_check_name(name), kind, f)


def _parse_bucket(name: str, kind: str, conf: Any, sub: Any, depth: int,
                  text_col: str) -> _Bucket:
    if not isinstance(conf, dict):
        _err(f"bucket {name!r} needs an options object")
    b = _Bucket(_check_name(name), kind, "")
    if kind == "terms":
        extra = set(conf) - {"field", "size", "order"}
        if extra:
            _err(f"terms bucket {name!r} options {sorted(extra)}")
        b.size = int(conf.get("size", 10))
        if b.size < 1:
            _err(f"bucket {name!r} size must be >= 1")
        order = conf.get("order")
        if order is not None:
            if not (isinstance(order, dict) and len(order) == 1):
                _err(f"bucket {name!r} order must be one {{key: dir}}")
            (okey, odir), = order.items()
            if odir not in ("asc", "desc"):
                _err(f"bucket {name!r} order direction {odir!r}")
            if depth > 0 and okey not in ("_count", "_term"):
                _err("metric-ordered CHILD buckets (parent level only)")
            b.order = (okey, odir)
    else:  # histogram
        extra = set(conf) - {"field", "interval"}
        if extra:
            _err(f"histogram bucket {name!r} options {sorted(extra)}")
        if int(conf.get("interval", 0)) <= 0:
            _err(f"histogram bucket {name!r} needs a positive interval")
        b.interval = int(conf["interval"])
    f = conf.get("field")
    if not isinstance(f, str) or not f:
        _err(f"bucket {name!r} needs a field")
    if f == text_col:
        _err(f"bucket {name!r} on the analyzed field {text_col!r}")
    b.field = f
    return b


def parse_agg_tree(body: dict, text_col: str = "text") -> _Tree:
    """Parse a search body into the supported tree spec (see module doc).
    Raises ``ValueError`` on anything outside the subset."""
    aggs = _agg_dict(body, "body")
    # scope: match / match_all, the facet-path contract
    q = body.get("query", {"match_all": {}})
    if not (isinstance(q, dict) and len(q) == 1):
        _err("query must have exactly one clause")
    (qkind, qval), = q.items()
    query: str | None = None
    mode = "or"
    if qkind == "match":
        if not (isinstance(qval, dict) and len(qval) == 1):
            _err("match must have exactly one field")
        (mf, mv), = qval.items()
        if mf != text_col:
            _err(f"aggs scope match on field {mf!r}")
        if isinstance(mv, dict):
            extra = set(mv) - {"query", "operator"}
            if extra:
                _err(f"scope match options {sorted(extra)}")
            query = str(mv.get("query", ""))
            mode = str(mv.get("operator", "or"))
            if mode not in ("or", "and"):
                _err(f"scope match operator {mode!r}")
        else:
            query = str(mv)
    elif qkind != "match_all":
        _err(f"aggs scope query kind {qkind!r} (match / match_all only)")

    # unwrap a single `global` wrapper: sub-aggs run over ALL docs
    if len(aggs) == 1:
        (gname, gagg), = aggs.items()
        if isinstance(gagg, dict) and "global" in gagg:
            if gagg.get("global") not in ({}, None):
                _err("global agg options")
            extra = set(gagg) - {"global", "aggs", "aggregations"}
            if extra:
                _err(f"global agg keys {sorted(extra)}")
            aggs = _agg_dict(gagg, f"global agg {gname!r}")
            query, mode = None, "or"

    metrics: list[_Metric] = []
    buckets: list[tuple[str, str, dict, Any]] = []
    for name, agg in aggs.items():
        if not isinstance(agg, dict):
            _err(f"agg {name!r} must be an object")
        sub = agg.get("aggs", agg.get("aggregations"))
        kinds = [k for k in agg if k not in ("aggs", "aggregations")]
        if len(kinds) != 1:
            _err(f"agg {name!r} must have exactly one kind")
        kind = kinds[0]
        if kind in _METRIC_KINDS:
            if sub is not None:
                _err(f"metric agg {name!r} with sub-aggs")
            metrics.append(_parse_metric(name, kind, agg[kind]))
        elif kind in _BUCKET_KINDS:
            buckets.append((name, kind, agg[kind], sub))
        else:
            _err(f"agg kind {kind!r}")

    if len(buckets) > 1:
        _err("more than one sibling bucket agg")
    if not buckets:
        if not metrics:
            _err("no aggs parsed")
        tree = _Tree(query, mode, None, metrics, None)
        _check_columns(tree)
        return tree
    if metrics:
        _err("sibling metric aggs alongside a bucket agg (split the request)")

    name, kind, conf, sub = buckets[0]
    root = _parse_bucket(name, kind, conf, sub, 0, text_col)
    child: _Bucket | None = None
    if sub is not None:
        if not isinstance(sub, dict) or not sub:
            _err(f"bucket {name!r} sub-aggs must be a non-empty object")
        child_buckets = []
        for sname, sagg in sub.items():
            if not isinstance(sagg, dict):
                _err(f"sub-agg {sname!r} must be an object")
            ssub = sagg.get("aggs", sagg.get("aggregations"))
            skinds = [k for k in sagg if k not in ("aggs", "aggregations")]
            if len(skinds) != 1:
                _err(f"sub-agg {sname!r} must have exactly one kind")
            skind = skinds[0]
            if skind in _METRIC_KINDS:
                if ssub is not None:
                    _err(f"metric agg {sname!r} with sub-aggs")
                root.metrics.append(_parse_metric(sname, skind, sagg[skind]))
            elif skind in _BUCKET_KINDS:
                child_buckets.append((sname, skind, sagg[skind], ssub))
            else:
                _err(f"sub-agg kind {skind!r}")
        if len(child_buckets) > 1:
            _err("more than one child bucket agg")
        if child_buckets:
            cname, ckind, cconf, csub = child_buckets[0]
            child = _parse_bucket(cname, ckind, cconf, csub, 1, text_col)
            if csub is not None:
                if not isinstance(csub, dict) or not csub:
                    _err(f"bucket {cname!r} sub-aggs must be a non-empty object")
                for gname, gagg in csub.items():
                    if not isinstance(gagg, dict):
                        _err(f"sub-agg {gname!r} must be an object")
                    if "aggs" in gagg or "aggregations" in gagg:
                        _err("grandchild bucket aggs (two bucket levels max)")
                    gkinds = list(gagg)
                    if len(gkinds) != 1:
                        _err(f"sub-agg {gname!r} must have exactly one kind")
                    gkind = gkinds[0]
                    if gkind not in _METRIC_KINDS:
                        _err(f"grandchild agg kind {gkind!r} (metrics only)")
                    child.metrics.append(_parse_metric(gname, gkind, gagg[gkind]))
    if root.order is not None and root.order[0] not in ("_count", "_term"):
        mnames = {m.name: m for m in root.metrics}
        om = mnames.get(root.order[0])
        if om is None:
            _err(f"order by unknown metric {root.order[0]!r}")
        if om.kind == "stats":
            _err("order by a stats metric (pick one of its scalar kinds)")
    for b in (root, child):
        if b is not None:
            for m in b.metrics:
                if m.field == text_col:
                    _err(f"metric {m.name!r} on the analyzed field {text_col!r}")
    tree = _Tree(query, mode, root, root.metrics, child)
    _check_columns(tree)
    return tree


def _out_names(tree: _Tree) -> list[str]:
    names: list[str] = []
    def metric_cols(m: _Metric) -> list[str]:
        if m.kind == "stats":
            return [f"{m.name}_{s}" for s in ("count", "min", "max", "sum", "avg")]
        return [m.name]
    if tree.root is None:
        for m in tree.metrics:
            names.extend(metric_cols(m))
        return names
    names.append(tree.root.name)
    names.append(f"{tree.root.name}_count")
    for m in tree.root.metrics:
        names.extend(metric_cols(m))
    if tree.child is not None:
        names.append(tree.child.name)
        names.append(f"{tree.child.name}_count")
        for m in tree.child.metrics:
            names.extend(metric_cols(m))
    return names


def _check_columns(tree: _Tree) -> None:
    names = _out_names(tree)
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        _err(f"agg names collide in the flattened frame: {sorted(dupes)}")


def _metric_fields(tree: _Tree) -> list[str]:
    """Ordered-unique metric fields; partials are computed per FIELD (all
    metric kinds over one field share count/sum/min/max partials)."""
    seen: list[str] = []
    for m in tree.metrics + (tree.child.metrics if tree.child else []):
        if m.field not in seen:
            seen.append(m.field)
    return seen


def _key_expr(b: _Bucket) -> Column:
    c = F.col(b.field)
    if b.kind == "histogram":
        return (F.floor(c.cast("double") / b.interval) * b.interval).cast("long")
    return c


def _key_sql(b: _Bucket) -> str:
    if b.kind == "histogram":
        return (f"CAST(floor(CAST({b.field} AS DOUBLE) / {b.interval}) "
                f"* {b.interval} AS BIGINT)")
    return b.field


def _partial_exprs(fields: list[str]) -> list[Column]:
    out = [F.count(F.lit(1)).alias("_cnt")]
    for j, f in enumerate(fields):
        out += [
            F.count(F.col(f)).alias(f"_c{j}"),
            F.sum(F.col(f).cast("double")).alias(f"_s{j}"),
            F.min(F.col(f)).alias(f"_mn{j}"),
            F.max(F.col(f)).alias(f"_mx{j}"),
        ]
    return out


def _merge_exprs(fields: list[str]) -> list[Column]:
    out = [F.sum("_cnt").alias("_cnt")]
    for j in range(len(fields)):
        out += [
            F.sum(f"_c{j}").alias(f"_c{j}"),
            F.sum(f"_s{j}").alias(f"_s{j}"),
            F.min(f"_mn{j}").alias(f"_mn{j}"),
            F.max(f"_mx{j}").alias(f"_mx{j}"),
        ]
    return out


def _metric_out(m: _Metric, fidx: dict[str, int]) -> list[Column]:
    """Final metric columns from the canonical partials (exact over
    integer fields: integer-valued double sums and long counts)."""
    j = fidx[m.field]
    # coalesce: a zero-match scope merges no partials (all-NULL row), but ES
    # value_count/stats.count report 0, not null
    c, s = F.coalesce(F.col(f"_c{j}"), F.lit(0)), F.col(f"_s{j}")
    mn, mx = F.col(f"_mn{j}"), F.col(f"_mx{j}")
    avg = F.when(c > 0, F.round(s / c, 6))
    ssum = F.round(F.coalesce(s, F.lit(0.0)), 6)
    if m.kind == "avg":
        return [avg.alias(m.name)]
    if m.kind == "sum":
        return [ssum.alias(m.name)]
    if m.kind == "min":
        return [mn.alias(m.name)]
    if m.kind == "max":
        return [mx.alias(m.name)]
    if m.kind == "value_count":
        return [c.alias(m.name)]
    return [  # stats
        c.alias(f"{m.name}_count"), mn.alias(f"{m.name}_min"),
        mx.alias(f"{m.name}_max"), ssum.alias(f"{m.name}_sum"),
        avg.alias(f"{m.name}_avg"),
    ]


def _order_cols(b: _Bucket, fidx: dict[str, int], key: str) -> list[Column]:
    """Deterministic bucket order (ties pinned by key ASC; keys are
    non-null by construction)."""
    k = F.col(key)
    if b.kind == "histogram":
        return [k.asc()]
    okey, odir = b.order or ("_count", "desc")
    if okey == "_term":
        return [k.asc() if odir == "asc" else k.desc()]
    if okey == "_count":
        v: Column = F.col("_cnt")
    else:
        m = next(m for m in b.metrics if m.name == okey)
        v = _metric_out(m, fidx)[0]
    v = v.asc_nulls_last() if odir == "asc" else v.desc_nulls_last()
    return [v, k.asc()]


def _finish(base: DataFrame, tree: _Tree) -> DataFrame:
    """Shared finisher over canonical finest-level partials ``base``
    (columns ``_k0 [, _k1], _cnt, _c*/_s*/_mn*/_mx*``): derive the parent
    level by re-aggregating partials, select/order buckets, emit the flat
    frame. Used identically by the declarative and serving paths."""
    fields = _metric_fields(tree)
    fidx = {f: j for j, f in enumerate(fields)}
    if tree.root is None:
        row = base.agg(*_merge_exprs(fields)) if "_k0" not in base.columns else base
        out: list[Column] = []
        for m in tree.metrics:
            out.extend(_metric_out(m, fidx))
        return row.select(*out)

    root, child = tree.root, tree.child
    if child is not None:
        # the parent derivation, the page join and the child ranking all
        # re-reference the finest-level partials; without this persist each
        # branch re-runs the corpus scan (or the serving path's postings
        # decode). The partials are bounded by key-pair cardinality — tiny
        # relative to the corpus — so caching them is the 100 TB-safe call.
        base = base.persist()
    parent = (
        base.groupBy("_k0").agg(*_merge_exprs(fields))
        if child is not None else base
    )
    porder = _order_cols(root, fidx, "_k0")
    if root.kind == "terms":
        parent = parent.orderBy(*porder).limit(root.size)
    # rank AFTER the TakeOrdered limit: the window sees <= size rows (or the
    # histogram's bucket set), never the full bucket cardinality
    parent = parent.withColumn("_prk", F.row_number().over(Window.orderBy(*porder)))
    pout = [F.col("_k0").alias(root.name),
            F.col("_cnt").alias(f"{root.name}_count")]
    for m in root.metrics:
        pout.extend(_metric_out(m, fidx))
    if child is None:
        return parent.orderBy("_prk").select(*pout)

    page = parent.select("_k0", "_prk", *[c for c in parent.columns
                                          if c not in ("_k0", "_prk")])
    crows = (
        base.where(F.col("_k1").isNotNull())
        .join(F.broadcast(page.select("_k0", "_prk")), "_k0")
    )
    corder = _order_cols(child, fidx, "_k1")
    w = Window.partitionBy("_k0").orderBy(*corder)
    crows = crows.withColumn("_crk", F.row_number().over(w))
    if child.kind == "terms":
        crows = crows.where(F.col("_crk") <= child.size)
    cout = [F.col("_k1").alias(child.name),
            F.col("_cnt").alias(f"{child.name}_count")]
    for m in child.metrics:
        cout.extend(_metric_out(m, fidx))
    csel = crows.select("_k0", "_crk", *cout)
    pref = page.withColumnRenamed("_cnt", "_pcnt")
    psel = pref.select(
        "_k0", "_prk", F.col("_pcnt").alias("_cnt"),
        *[c for c in pref.columns if c.startswith(("_c", "_s", "_mn", "_mx"))
          and c != "_cnt"],
    )
    pcols = [F.col("_k0").alias(root.name),
             F.col("_cnt").alias(f"{root.name}_count")]
    for m in root.metrics:
        pcols.extend(_metric_out(m, fidx))
    pflat = psel.select("_k0", "_prk", *pcols)
    return (
        pflat.join(csel, "_k0", "left")
        .orderBy(F.col("_prk").asc(), F.col("_crk").asc_nulls_last())
        .select(*_out_names(tree))
    )


def _base_from_docs(docs: DataFrame, tree: _Tree,
                    text_col: str = "text") -> DataFrame:
    fields = _metric_fields(tree)
    scoped = docs.where(match_condition(tree.query, tree.mode, text_col))
    if tree.root is None:
        return scoped.agg(*_partial_exprs(fields))
    keys = [_key_expr(tree.root).alias("_k0")]
    scoped = scoped.where(_key_expr(tree.root).isNotNull())
    if tree.child is not None:
        keys.append(_key_expr(tree.child).alias("_k1"))
    return scoped.groupBy(*keys).agg(*_partial_exprs(fields))


def agg_tree(docs: DataFrame, body: dict, text_col: str = "text") -> DataFrame:
    """Declarative path: one map-side-combined shuffle at the finest bucket
    level, parent derived from partials, orderBy+limit selection."""
    tree = parse_agg_tree(body, text_col)
    return _finish(_base_from_docs(docs, tree, text_col), tree)


# ---------------------------------------------------------------- SQL twin

def _metric_sql(m: _Metric) -> list[str]:
    f = m.field
    avg = f"round(avg({f}), 6)"
    ssum = f"round(CAST(coalesce(sum({f}), 0) AS DOUBLE), 6)"
    if m.kind == "avg":
        return [f"{avg} AS {m.name}"]
    if m.kind == "sum":
        return [f"{ssum} AS {m.name}"]
    if m.kind in ("min", "max"):
        return [f"{m.kind}({f}) AS {m.name}"]
    if m.kind == "value_count":
        return [f"count({f}) AS {m.name}"]
    return [
        f"count({f}) AS {m.name}_count", f"min({f}) AS {m.name}_min",
        f"max({f}) AS {m.name}_max", f"{ssum} AS {m.name}_sum",
        f"{avg} AS {m.name}_avg",
    ]


def _order_sql(b: _Bucket, key: str, cnt: str) -> str:
    """Window ORDER BY for bucket selection — raw expressions, never output
    aliases (alias visibility inside window clauses is engine-dependent)."""
    if b.kind == "histogram":
        return f"{key} ASC"
    okey, odir = b.order or ("_count", "desc")
    if okey == "_term":
        return f"{key} {odir.upper()}"
    if okey == "_count":
        return f"{cnt} {odir.upper()}, {key} ASC"
    m = next(m for m in b.metrics if m.name == okey)
    expr = _metric_sql(m)[0].rsplit(" AS ", 1)[0]
    return f"{expr} {odir.upper()} NULLS LAST, {key} ASC"


def agg_tree_sql(body: dict, table: str = "documents",
                 text_col: str = "text") -> str:
    """DuckDB oracle — deliberately the DIRECT formulation (each level is
    its own GROUP BY over the scoped scan), independent of the engine's
    partials-rollup plan, so the comparison checks the derivation too."""
    tree = parse_agg_tree(body, text_col)
    where = _match_sql(tree.query, tree.mode, None, "ascii")
    if tree.root is None:
        cols = ", ".join(s for m in tree.metrics for s in _metric_sql(m))
        return f"SELECT {cols} FROM {table} WHERE {where}"
    root, child = tree.root, tree.child
    k0 = _key_sql(root)
    pmetrics = "".join(f", {s}" for m in root.metrics for s in _metric_sql(m))
    plimit = f"QUALIFY prk <= {root.size}" if root.kind == "terms" else ""
    parent = f"""
parent AS (
  SELECT {k0} AS {root.name}, count(*) AS {root.name}_count{pmetrics},
         row_number() OVER (ORDER BY {_order_sql(root, k0, 'count(*)')}) AS prk
  FROM scoped WHERE {k0} IS NOT NULL
  GROUP BY 1
  {plimit}
)"""
    if child is None:
        names = ", ".join(_out_names(tree))
        return f"""
WITH scoped AS (SELECT * FROM {table} WHERE {where}),
{parent.strip()}
SELECT {names} FROM parent ORDER BY prk"""
    k1 = _key_sql(child)
    cmetrics = "".join(f", {s}" for m in child.metrics for s in _metric_sql(m))
    climit = f"QUALIFY crk <= {child.size}" if child.kind == "terms" else ""
    names = ", ".join(
        f"p.{n}" if i <= 1 + sum(len(_metric_sql(m)) for m in root.metrics)
        else f"c.{n}"
        for i, n in enumerate(_out_names(tree))
    )
    return f"""
WITH scoped AS (SELECT * FROM {table} WHERE {where}),
{parent.strip()},
child AS (
  SELECT {k0} AS _k0, {k1} AS {child.name}, count(*) AS {child.name}_count{cmetrics},
         row_number() OVER (
           PARTITION BY {k0}
           ORDER BY {_order_sql(child, k1, 'count(*)')}
         ) AS crk
  FROM scoped WHERE {k0} IS NOT NULL AND {k1} IS NOT NULL
  GROUP BY 1, 2
  {climit}
)
SELECT {names}
FROM parent p LEFT JOIN child c ON c._k0 = p.{root.name}
ORDER BY p.prk, c.crk NULLS LAST"""


# ------------------------------------------------------------ serving path

def agg_tree_index(searcher, body: dict, text_col: str = "text") -> DataFrame:
    """Serving-path twin: one task per active shard decodes the match set
    from postings DOC STREAMS, reads only (doc_id, bucket/metric fields)
    from its docs partition, and emits finest-level partials (<= key-pair
    cardinality rows per shard, never the match set); a tiny merge agg +
    the shared finisher produce the identical frame. ``match_all`` scope
    skips postings and runs the declarative base over the stored docs."""
    from ..functions.tokenizer import tokenize
    from ..plans.query_index import _arrow_ddl, _matched_docs, _scatter
    import pyarrow.dataset as pads

    tree = parse_agg_tree(body, text_col)
    spark, index_dir = searcher.spark, searcher.index_dir
    if tree.query is None:
        docs = spark.read.parquet(f"{index_dir}/docs")
        return _finish(_base_from_docs(docs, tree), tree)

    fields = _metric_fields(tree)
    _, present, shards = searcher._active_shards(
        sorted(set(tokenize(tree.query))), tree.mode
    )

    doc_schema = pads.dataset(f"{index_dir}/docs/shard=0", format="parquet").schema
    parts: list[str] = []
    key_cols: list[str] = []
    if tree.root is not None:
        parts.append(f"_k0 {'long' if tree.root.kind == 'histogram' else _arrow_ddl(doc_schema, tree.root.field)}")
        key_cols.append("_k0")
        if tree.child is not None:
            parts.append(f"_k1 {'long' if tree.child.kind == 'histogram' else _arrow_ddl(doc_schema, tree.child.field)}")
            key_cols.append("_k1")
    parts.append("_cnt long")
    for j, f_ in enumerate(fields):
        ddl = _arrow_ddl(doc_schema, f_)
        parts += [f"_c{j} long", f"_s{j} double", f"_mn{j} {ddl}", f"_mx{j} {ddl}"]
    partial_schema = ", ".join(parts)

    read_cols = sorted({"doc_id", *fields}
                       | ({tree.root.field} if tree.root else set())
                       | ({tree.child.field} if tree.child else set()))
    tree_ref, mode = tree, tree.mode

    def shard_partials(shard: int) -> pd.DataFrame | None:
        sub = _matched_docs(index_dir, shard, present, mode, read_cols)
        if sub is None:
            return None
        if tree_ref.root is None:
            return _pd_partials(sub, fields, None)
        sub = sub.assign(_k0=_pd_key(sub, tree_ref.root))
        sub = sub.loc[sub["_k0"].notna()]
        if len(sub) == 0:
            return None
        if tree_ref.child is not None:
            sub = sub.assign(_k1=_pd_key(sub, tree_ref.child))
        return _pd_partials(sub, fields, key_cols)

    if shards:
        base = _scatter(spark, shards, shard_partials, partial_schema)
        if key_cols:
            base = base.groupBy(*key_cols).agg(*_merge_exprs(fields))
        else:
            base = base.agg(*_merge_exprs(fields))
    else:
        base = spark.createDataFrame([], partial_schema)
        if not key_cols:
            # zero-match global metrics still yield one row (count 0)
            base = base.agg(*_merge_exprs(fields))
    return _finish(base, tree)


def _pd_key(sub: pd.DataFrame, b: _Bucket) -> pd.Series:
    v = sub[b.field]
    if b.kind == "histogram":
        # nullable Int64 so NaN keys survive into the long-typed partial
        # column (a NULL child key still counts toward its parent)
        return (np.floor(v.astype("float64") / b.interval)
                * b.interval).astype("Int64")
    return v


def _pd_partials(sub: pd.DataFrame, fields: list[str],
                 key_cols: list[str] | None) -> pd.DataFrame:
    """Per-shard partial rows: count/sum/min/max per metric field at the
    finest key level (pandas NaN groups kept — a NULL child key still
    counts toward its parent)."""
    def agg_block(g: pd.DataFrame) -> dict:
        row = {"_cnt": len(g)}
        for j, f in enumerate(fields):
            vals = g[f].dropna()
            row[f"_c{j}"] = len(vals)
            row[f"_s{j}"] = float(vals.sum()) if len(vals) else None
            row[f"_mn{j}"] = vals.min() if len(vals) else None
            row[f"_mx{j}"] = vals.max() if len(vals) else None
        return row

    if not key_cols:
        return pd.DataFrame([agg_block(sub)])
    out = []
    for keys, g in sub.groupby(key_cols, dropna=False, sort=False):
        if not isinstance(keys, tuple):
            keys = (keys,)
        row = {}
        for kc, kv in zip(key_cols, keys):
            row[kc] = None if pd.isna(kv) else kv
        row.update(agg_block(g))
        out.append(row)
    return pd.DataFrame(out)


# ------------------------------------------------------------- DSL routing

def tree_shaped(body: dict) -> bool:
    """True when the body's aggs need the tree executor (sibling aggs,
    metric sub-aggs, metric bucket order, or two bucket levels) rather than
    the single-agg facet path — which keeps every legacy shape, including
    terms>stats (terms_stats) and terms>top_hits, exactly where it was."""
    aggs = body.get("aggs", body.get("aggregations", body.get("facets")))
    if not isinstance(aggs, dict):
        return False
    if len(aggs) > 1:
        return True
    (agg,) = aggs.values()
    if not isinstance(agg, dict):
        return False
    if "global" in agg:
        sub = agg.get("aggs", agg.get("aggregations"))
        return isinstance(sub, dict) and tree_shaped({"aggs": sub})
    kinds = [k for k in agg if k not in ("aggs", "aggregations")]
    if len(kinds) == 1 and kinds[0] == "terms":
        conf = agg[kinds[0]]
        if isinstance(conf, dict) and isinstance(conf.get("order"), dict):
            okey = next(iter(conf["order"]), None)
            if okey not in ("_count", "_term"):
                return True
    sub = agg.get("aggs", agg.get("aggregations"))
    if not isinstance(sub, dict):
        return False
    if len(sub) != 1:
        return True
    (sagg,) = sub.values()
    if not isinstance(sagg, dict):
        return False
    if "aggs" in sagg or "aggregations" in sagg:
        return True
    skind = next(iter(sagg), None)
    return skind not in ("stats", "top_hits")
