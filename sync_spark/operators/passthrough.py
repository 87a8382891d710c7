"""Non-ANSI passthrough dialects (SURVEY.md §2.1 S21 extension).

The reference's /sql/execute endpoint pattern-matches, besides plain
SQL, two other dialects (pkg/api/auth_handler.go:1267-1883 — cited for
parity, not ported):

- **Mongo JS**: ``db.<coll>.find({filter}[, {projection}])`` with
  optional chained ``.sort({...})`` / ``.limit(n)`` / ``.skip(n)``,
  plus ``db.<coll>.countDocuments({filter})``. Here the chain parses
  into a small AST and compiles onto the same Column-predicate
  machinery as the countQuery DSL — filters stay Catalyst-pushdown-able
  (a ``$gt`` on a parquet column becomes PushedFilters, exactly like
  the SQL branch).
- **Redis**: ``KEYS pattern`` / ``GET key`` / ``MGET k1 k2`` /
  ``EXISTS key`` / ``DBSIZE`` / ``TTL key`` / ``SET key value`` /
  ``DEL key...`` / ``EXPIRE key secs`` / ``PERSIST key`` /
  ``SETEX key secs value`` against the relational KV model
  (operators/kv.py). Read commands return DataFrames; write commands
  (SET/DEL/EXPIRE/PERSIST/SETEX) return the post-state KV frame
  (the caller persists it — same model as restore_replace).

Filter subset: equality ``{f: v}``, operator objects ``{f: {$gt: v,
$gte, $lt, $lte, $ne, $eq, $in: [...]}}``, ``$and`` / ``$or`` / ``$not``.
JS-style relaxed JSON (unquoted keys, single quotes) is normalized
before parsing, like the reference's tolerant matcher. Null semantics
follow MONGO, not SQL: ``$ne``/``$nin`` match null/missing fields and
``{f: null}`` / ``{$eq: null}`` match nulls — the compiler adds the
``isNull`` arms SQL three-valued logic would drop.
"""

from __future__ import annotations

import fnmatch
import json
import re
import shlex
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Mongo JS
# ---------------------------------------------------------------------------

_FIND_RE = re.compile(
    r"^\s*db\.(?P<coll>\w+)\.(?P<method>find|countDocuments|count)\s*\(",
    re.DOTALL,
)
_CHAIN_RE = re.compile(r"\.\s*(?P<method>sort|limit|skip)\s*\(")


@dataclass
class MongoFind:
    collection: str
    filter: dict = field(default_factory=dict)
    projection: dict = field(default_factory=dict)
    sort: list[tuple[str, int]] = field(default_factory=list)
    limit: Optional[int] = None
    skip: int = 0
    count: bool = False


def _js_to_json(src: str) -> str:
    """Normalize relaxed JS object syntax to strict JSON: quote bare
    keys, single→double quotes. Bare-key quoting is applied only
    OUTSIDE string literals, so values like 'a, b: c' survive.
    (Apostrophes inside single-quoted strings remain out of scope —
    the reference's matcher doesn't handle them either.)"""
    out = re.sub(r"'([^']*)'", r'"\1"', src)
    # split on double-quoted strings; rewrite keys only in the gaps
    parts = re.split(r'("(?:[^"\\]|\\.)*")', out)
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(r"([{,]\s*)([A-Za-z_$][\w$.]*)\s*:", r'\1"\2":', parts[i])
    return "".join(parts)


def _split_args(src: str, open_at: int) -> tuple[list[str], int]:
    """Split the top-level comma-separated args of the paren group
    opening at ``open_at``; returns (args, index-after-close)."""
    depth, i, start, args, in_str = 0, open_at, open_at + 1, [], None
    for i in range(open_at, len(src)):
        ch = src[i]
        if in_str:
            if ch == in_str and src[i - 1] != "\\":
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
            if depth == 0:
                args.append(src[start:i])
                return [a.strip() for a in args if a.strip()], i + 1
        elif ch == "," and depth == 1:
            args.append(src[start:i])
            start = i + 1
    raise ValueError("unbalanced parentheses in Mongo query")


def parse_mongo_js(src: str) -> MongoFind:
    m = _FIND_RE.match(src)
    if not m:
        raise ValueError(f"not a recognized Mongo JS query: {src[:60]!r}")
    args, pos = _split_args(src, src.index("(", m.start("method")))
    q = MongoFind(collection=m.group("coll"), count=m.group("method") != "find")
    if args:
        q.filter = json.loads(_js_to_json(args[0])) if args[0] else {}
    if len(args) > 1 and not q.count:
        q.projection = json.loads(_js_to_json(args[1]))
    rest = src[pos:]
    while True:
        cm = _CHAIN_RE.search(rest)
        if not cm:
            break
        cargs, cpos = _split_args(rest, rest.index("(", cm.start()))
        meth = cm.group("method")
        if meth == "sort":
            spec = json.loads(_js_to_json(cargs[0]))
            q.sort = [(k, int(v)) for k, v in spec.items()]
        elif meth == "limit":
            q.limit = int(cargs[0])
        else:
            q.skip = int(cargs[0])
        rest = rest[cpos:]
    return q


_CMP_OPS: dict[str, Callable[[Column, Any], Column]] = {
    "$eq": lambda c, v: c == v,
    "$ne": lambda c, v: c != v,
    "$gt": lambda c, v: c > v,
    "$gte": lambda c, v: c >= v,
    "$lt": lambda c, v: c < v,
    "$lte": lambda c, v: c <= v,
}


def mongo_filter_to_column(filt: dict) -> Optional[Column]:
    """Compile a Mongo filter document → one Column predicate (None =
    match-all). Dotted field names address nested struct fields, same
    as Mongo.

    Values come from ``json.loads`` and are ALREADY typed (ints stay
    ints, '01234' stays a string) — no string coercion happens here;
    that belongs to the string-only countQuery DSL.
    """
    preds: list[Column] = []
    for k, v in filt.items():
        if k == "$and":
            sub = [mongo_filter_to_column(f) for f in v]
            preds.extend(p for p in sub if p is not None)
        elif k == "$or":
            sub = [mongo_filter_to_column(f) for f in v]
            if any(p is None for p in sub):
                # an empty {} branch matches everything in Mongo, so
                # the whole $or is match-all — contribute nothing
                continue
            if sub:
                out = sub[0]
                for p in sub[1:]:
                    out = out | p
                preds.append(out)
        elif k == "$not":
            p = mongo_filter_to_column(v)
            if p is not None:
                # Mongo $not matches docs FAILING the predicate,
                # including null/missing fields (SQL ~NULL is NULL)
                preds.append(~F.coalesce(p, F.lit(False)))
        elif isinstance(v, dict):
            preds.extend(_field_ops_to_columns(k, v))
        elif v is None:
            # {f: null} matches null/missing, like Mongo
            preds.append(F.col(k).isNull())
        else:
            preds.append(F.col(k) == F.lit(v))
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _field_ops_to_columns(field: str, ops: dict) -> list[Column]:
    """Operator document for one field → predicate list."""
    col = F.col(field)
    preds: list[Column] = []
    for op, val in ops.items():
        if op == "$in":
            preds.append(col.isin(list(val)))
        elif op == "$nin":
            # Mongo negations MATCH null/missing fields (SQL
            # three-valued logic would silently drop them)
            preds.append(~col.isin(list(val)) | col.isNull())
        elif op == "$exists":
            preds.append(col.isNotNull() if val else col.isNull())
        elif op == "$ne":
            if val is None:
                preds.append(col.isNotNull())
            else:
                preds.append((col != F.lit(val)) | col.isNull())
        elif op == "$eq" and val is None:
            preds.append(col.isNull())
        elif op == "$not":
            # field-level $not (the position Mongo actually allows):
            # negate the inner operator document, matching null rows
            inner = _field_ops_to_columns(field, val)
            whole = inner[0]
            for p in inner[1:]:
                whole = whole & p
            preds.append(~F.coalesce(whole, F.lit(False)))
        elif op in _CMP_OPS:
            preds.append(_CMP_OPS[op](col, F.lit(val)))
        else:
            raise ValueError(f"unsupported Mongo operator: {op!r}")
    return preds


def run_mongo_js(
    src: str, resolve: Callable[[str], DataFrame]
) -> DataFrame:
    """Execute a Mongo-JS query string against ``resolve(collection)``.

    skip+limit compiles to a single global sort + limit(skip+n) then a
    driver-free offset window only when skip>0 — for the common
    sort/limit chain the plan is the same TakeOrderedAndProject Spark
    gives ORDER BY ... LIMIT n."""
    q = parse_mongo_js(src)
    df = resolve(q.collection)
    pred = mongo_filter_to_column(q.filter)
    if pred is not None:
        df = df.filter(pred)
    if q.count:
        return df.agg(F.count(F.lit(1)).alias("n"))
    if q.projection:
        keep = [k for k, v in q.projection.items() if v]
        drop = [k for k, v in q.projection.items() if not v]
        if keep and drop:
            raise ValueError(
                "Mongo projections cannot mix inclusion and exclusion"
            )
        if keep:
            df = df.select(*keep)
        elif drop:
            # exclusion projection ({field: 0}) — silently returning
            # the suppressed field would be an over-share
            df = df.drop(*drop)
    if q.sort:
        df = df.orderBy(
            *[F.col(k).asc() if d >= 0 else F.col(k).desc() for k, d in q.sort]
        )
    if q.skip:
        df = df.offset(q.skip)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


_WRITE_RE = re.compile(
    r"^\s*db\.(?P<coll>\w+)\.(?P<method>insertMany|insertOne|updateMany|"
    r"updateOne|deleteMany|deleteOne|remove)\s*\(",
    re.DOTALL,
)

# the reference's documented loop form (pkg/api/auth_handler.go:1539):
#   var docs = []; let count = N;
#   for (let i = 1; i <= count; i++) { docs.push({...}); }
#   db.<coll>.insertMany(docs);
_PUSH_LOOP_RE = re.compile(
    r"db\.(?P<coll>\w+)\.insertMany\s*\(\s*docs\s*\)", re.DOTALL
)
_FOR_RE = re.compile(
    r"for\s*\(\s*(?:let|var)\s+(?P<var>\w+)\s*=\s*(?P<start>-?\d+)\s*;"
    r"\s*(?P=var)\s*(?P<cmp><=?)\s*(?P<end>\w+|-?\d+)\s*;"
)
_COUNT_RE = re.compile(r"(?:let|var)\s+(?P<name>\w+)\s*=\s*(?P<n>\d+)\s*;")
_PUSH_RE = re.compile(r"docs\.push\s*\(\s*(?P<obj>\{.*?\})\s*\)", re.DOTALL)


def _eval_js_expr(expr: str, env: dict) -> Any:
    """Evaluate the tiny JS expression subset the push template uses:
    literals, the loop variable, and ``+``-joined concatenations like
    ``"user" + i + "@example.com"``. Any string term makes the whole
    expression a string concat, like JS."""
    terms = []
    depth, start, in_str = 0, 0, None
    expr = expr.strip()
    for i, ch in enumerate(expr):
        if in_str:
            if ch == in_str and expr[i - 1] != "\\":
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "+" and depth == 0:
            terms.append(expr[start:i])
            start = i + 1
    terms.append(expr[start:])

    def one(t: str) -> Any:
        t = t.strip()
        if t in env:
            return env[t]
        try:
            return json.loads(_js_to_json(t))
        except (ValueError, TypeError):
            raise ValueError(f"unsupported JS expression term: {t!r}")

    vals = [one(t) for t in terms]
    if len(vals) == 1:
        return vals[0]
    if any(isinstance(v, str) for v in vals):
        return "".join(str(v) for v in vals)
    return sum(vals)


def parse_push_loop_docs(src: str) -> tuple[str, list[dict]]:
    """Parse the reference's ``docs.push`` insertMany loop form into
    (collection, docs). The loop bound may be a literal or a
    ``let count = N`` variable (default 5, matching the reference's
    fallback when no count is found — auth_handler.go:1568-1573).
    Unlike the reference — which discards the push template and
    fabricates {name,email,id} documents — this executes the template
    the user actually wrote."""
    m = _PUSH_LOOP_RE.search(src)
    fm = _FOR_RE.search(src)
    pm = _PUSH_RE.search(src)
    if not (m and fm and pm):
        raise ValueError("unrecognized docs.push insertMany loop form")
    consts = {c.group("name"): int(c.group("n")) for c in _COUNT_RE.finditer(src)}
    end_tok = fm.group("end")
    end = int(end_tok) if re.fullmatch(r"-?\d+", end_tok) else consts.get(end_tok, 5)
    start = int(fm.group("start"))
    last = end if fm.group("cmp") == "<=" else end - 1
    var = fm.group("var")
    # parse the object literal ONCE into (key, expr) pairs
    obj = pm.group("obj")
    pairs_src, _ = _split_args("[" + obj[1:-1] + "]", 0)
    pairs: list[tuple[str, str]] = []
    for p in pairs_src:
        k, _, v = p.partition(":")
        pairs.append((k.strip().strip("'\""), v.strip()))
    docs = [
        {k: _eval_js_expr(v, {var: i}) for k, v in pairs}
        for i in range(start, last + 1)
    ]
    if not docs:
        raise ValueError("docs.push loop generates zero documents")
    return m.group("coll"), docs


def _insert_docs(df: DataFrame, docs: list[dict], op: str) -> tuple[DataFrame, DataFrame]:
    """Append parsed documents to the collection frame (shared by
    insertMany / insertOne / the docs.push loop form)."""
    if not isinstance(docs, list) or not docs:
        raise ValueError(f"{op} expects a non-empty array of documents")
    cols = df.columns
    unknown = {k for d in docs for k in d} - set(cols)
    if unknown:
        raise ValueError(f"{op} fields not in collection schema: {sorted(unknown)}")
    # JS has one number type: coerce ints into float fields (40 ≡
    # 40.0 in Mongo) instead of crashing createDataFrame
    import pyspark.sql.types as _T

    def _coerce(v, dt):
        if v is None:
            return None
        if isinstance(dt, (_T.DoubleType, _T.FloatType)) and isinstance(v, int):
            return float(v)
        if isinstance(dt, (_T.LongType, _T.IntegerType)) and isinstance(v, float) and v.is_integer():
            return int(v)
        return v

    rows = [
        tuple(_coerce(d.get(f.name), f.dataType) for f in df.schema.fields)
        for d in docs
    ]
    new_rows = df.sparkSession.createDataFrame(rows, df.schema)
    affected = new_rows.agg(
        F.lit(op).alias("op"), F.count(F.lit(1)).alias("affected_rows")
    )
    return df.unionByName(new_rows), affected


def _one_match_flag(df: DataFrame, pred: Optional[Column]) -> tuple[DataFrame, Column, list[str]]:
    """Mark exactly ONE deterministic matching row for the single-doc
    verbs (updateOne/deleteOne/remove-justOne). Mongo picks natural
    (insertion) order; a DataFrame has none, so the tie-break is the
    lexicographic-min row fingerprint — deterministic and
    engine-portable. Exact-duplicate rows are disambiguated with a
    per-fingerprint row_number (bounded window: partitioned by the
    fingerprint, so no global sort at scale).

    Returns (augmented_df, is_the_one_column, helper_col_names)."""
    from pyspark.sql import Window

    fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    matched = F.lit(True) if pred is None else F.coalesce(pred, F.lit(False))
    w = Window.partitionBy("__fp").orderBy(F.lit(1))
    aug = (
        df.withColumn("__fp", fp)
        .withColumn("__match", matched)
        .withColumn("__dup_rn", F.row_number().over(w))
    )
    # 1-row scalar: min fingerprint among matches (null when none)
    target = aug.filter(F.col("__match")).agg(F.min("__fp").alias("__fp_min"))
    aug = aug.join(F.broadcast(target))
    is_one = (
        F.col("__match")
        & F.col("__fp_min").isNotNull()
        & (F.col("__fp") == F.col("__fp_min"))
        & (F.col("__dup_rn") == 1)
    )
    return aug, is_one, ["__fp", "__match", "__dup_rn", "__fp_min"]


def run_mongo_js_write(src: str, df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Execute a Mongo-JS WRITE statement against the collection frame
    — the dialect's other half. The reference's /sql/execute accepts
    insertMany (incl. the docs.push loop form), insertOne,
    updateMany/updateOne-with-$set, deleteMany/deleteOne and remove
    (pkg/api/auth_handler.go:1536-1745,1604,1679 — cited for parity,
    not ported). Single-doc verbs affect at most one deterministic
    matching row (min-fingerprint tie-break); ``remove(filter)``
    deletes all matches like Mongo, ``remove(filter, true)`` is
    justOne.

    Returns ``(new_state, affected)`` where ``affected`` is a 1-row
    frame ``(op, affected_rows)`` — the lazy analog of the reference's
    "N documents" message; the caller persists ``new_state`` (same
    contract as the Redis SET/DEL branch).
    """
    m = _WRITE_RE.match(src)
    if not m:
        if _PUSH_LOOP_RE.search(src):
            _, docs = parse_push_loop_docs(src)
            return _insert_docs(df, docs, "insertMany")
        raise ValueError(f"not a recognized Mongo JS write: {src[:60]!r}")
    args, _ = _split_args(src, src.index("(", m.start("method")))
    meth = m.group("method")
    if meth == "insertMany":
        return _insert_docs(df, json.loads(_js_to_json(args[0])), "insertMany")
    if meth == "insertOne":
        doc = json.loads(_js_to_json(args[0]))
        if not isinstance(doc, dict):
            raise ValueError("insertOne expects a single document object")
        return _insert_docs(df, [doc], "insertOne")
    pred = mongo_filter_to_column(json.loads(_js_to_json(args[0])) if args else {})
    # remove(filter, true) is justOne; remove(filter) == deleteMany
    just_one = meth in ("updateOne", "deleteOne") or (
        meth == "remove" and len(args) > 1 and args[1].strip().lower() == "true"
    )
    if meth in ("deleteMany", "deleteOne", "remove"):
        if just_one:
            aug, is_one, helpers = _one_match_flag(df, pred)
            affected_n = aug.filter(is_one).agg(
                F.lit(meth).alias("op"), F.count(F.lit(1)).alias("affected_rows")
            )
            return aug.filter(~is_one).drop(*helpers), affected_n
        matched = df if pred is None else df.filter(pred)
        affected_n = matched.agg(
            F.lit(meth).alias("op"), F.count(F.lit(1)).alias("affected_rows")
        )
        if pred is None:
            return df.limit(0), affected_n
        return df.filter(~F.coalesce(pred, F.lit(False))), affected_n
    # updateMany / updateOne: only the {$set: {...}} form, like the reference
    if len(args) < 2:
        raise ValueError(f"{meth} expects (filter, update) arguments")
    update = json.loads(_js_to_json(args[1]))
    setter = update.get("$set")
    if not isinstance(setter, dict) or not setter:
        raise ValueError(f"only {meth} with a non-empty $set document is supported")
    unknown = set(setter) - set(df.columns)
    if unknown:
        raise ValueError(f"$set fields not in collection schema: {sorted(unknown)}")
    if just_one:
        aug, is_one, helpers = _one_match_flag(df, pred)
        new_state = aug
        for fname, val in setter.items():
            lit = F.lit(val).cast(df.schema[fname].dataType)
            new_state = new_state.withColumn(
                fname, F.when(is_one, lit).otherwise(F.col(fname))
            )
        affected_n = aug.filter(is_one).agg(
            F.lit(meth).alias("op"), F.count(F.lit(1)).alias("affected_rows")
        )
        return new_state.drop(*helpers), affected_n
    matched = df if pred is None else df.filter(pred)
    affected_n = matched.agg(
        F.lit(meth).alias("op"), F.count(F.lit(1)).alias("affected_rows")
    )
    if pred is None:
        new_state = df
        for fname, val in setter.items():
            new_state = new_state.withColumn(
                fname, F.lit(val).cast(df.schema[fname].dataType)
            )
        return new_state, affected_n
    # evaluate the filter ONCE against the pre-update row: applying it
    # per-withColumn would re-resolve against already-$set columns and
    # silently skip later fields when $set touches a filtered field
    marker = "__mongo_match"
    new_state = df.withColumn(marker, F.coalesce(pred, F.lit(False)))
    for fname, val in setter.items():
        lit = F.lit(val).cast(df.schema[fname].dataType)
        new_state = new_state.withColumn(
            fname, F.when(F.col(marker), lit).otherwise(F.col(fname))
        )
    return new_state.drop(marker), affected_n


# ---------------------------------------------------------------------------
# Mongo aggregate() pipeline
# ---------------------------------------------------------------------------

_AGG_RE = re.compile(r"^\s*db\.(?P<coll>\w+)\.aggregate\s*\(", re.DOTALL)


def run_mongo_aggregate(src: str, resolve: Callable[[str], DataFrame]) -> DataFrame:
    """Execute a ``db.<coll>.aggregate([...])`` pipeline — the Mongo
    surface users reach for the moment find() is not enough. Supported
    stages: ``$match`` (same filter compiler as find), ``$group``
    (_id: null or "$field"; accumulators $sum (field or 1), $avg,
    $min, $max, $count), ``$sort``, ``$skip``, ``$limit``,
    ``$project`` (inclusion with "$field" renames, or exclusion).

    Numeric $sum/$avg run in DECIMAL(18,2) and cast to DOUBLE at the
    end — the repo-wide cross-engine money discipline (double sums
    are order-dependent; a Mongo user gets the same number the SQL
    surface reports)."""
    m = _AGG_RE.match(src)
    if not m:
        raise ValueError(f"not a Mongo aggregate call: {src[:60]!r}")
    args, _ = _split_args(src, m.end() - 1)  # regex ends at the open paren
    pipeline = json.loads(_js_to_json(args[0]))
    if not isinstance(pipeline, list):
        raise ValueError("aggregate expects a pipeline array")
    df = resolve(m.group("coll"))

    def field_ref(v: Any) -> Column:
        if isinstance(v, str) and v.startswith("$"):
            return F.col(v[1:])
        raise ValueError(f"expected a '$field' reference, got {v!r}")

    def money(v: Any) -> Column:
        return field_ref(v).cast("decimal(18,2)")

    for stage in pipeline:
        if not isinstance(stage, dict) or len(stage) != 1:
            raise ValueError(f"each pipeline stage must be a single-key document: {stage!r}")
        op, spec = next(iter(stage.items()))
        if op == "$match":
            pred = mongo_filter_to_column(spec)
            if pred is not None:
                df = df.filter(pred)
        elif op == "$group":
            gid = spec.get("_id", None)
            aggs = []
            for out, acc in spec.items():
                if out == "_id":
                    continue
                if not isinstance(acc, dict) or len(acc) != 1:
                    raise ValueError(f"accumulator must be a single-op document: {acc!r}")
                aop, aval = next(iter(acc.items()))
                if aop == "$sum" and aval == 1:
                    aggs.append(F.count(F.lit(1)).cast("long").alias(out))
                elif aop == "$sum":
                    aggs.append(F.sum(money(aval)).cast("double").alias(out))
                elif aop == "$avg":
                    aggs.append(
                        (
                            F.sum(money(aval)).cast("double")
                            / F.count(money(aval)).cast("double")
                        ).alias(out)
                    )
                elif aop == "$min":
                    aggs.append(F.min(field_ref(aval)).alias(out))
                elif aop == "$max":
                    aggs.append(F.max(field_ref(aval)).alias(out))
                elif aop == "$count":
                    aggs.append(F.count(F.lit(1)).cast("long").alias(out))
                else:
                    raise ValueError(f"unsupported accumulator: {aop!r}")
            if not aggs:
                raise ValueError("$group needs at least one accumulator")
            if gid is None:
                # Mongo always returns _id (null for the global
                # group) — omitting it would give the two group forms
                # inconsistent result shapes
                df = df.agg(*aggs).select(
                    F.lit(None).cast("string").alias("_id"), "*"
                )
            elif isinstance(gid, str) and gid.startswith("$"):
                df = df.groupBy(F.col(gid[1:]).alias("_id")).agg(*aggs)
            else:
                raise ValueError(
                    "only _id: null or _id: '$field' group keys are supported"
                )
        elif op == "$sort":
            df = df.orderBy(
                *[
                    F.col(k).asc() if d >= 0 else F.col(k).desc()
                    for k, d in spec.items()
                ]
            )
        elif op == "$limit":
            df = df.limit(int(spec))
        elif op == "$skip":
            df = df.offset(int(spec))
        elif op == "$project":
            keep, drop, renames = [], [], []
            for k, v in spec.items():
                if isinstance(v, str) and v.startswith("$"):
                    renames.append(F.col(v[1:]).alias(k))
                elif v:
                    keep.append(k)
                else:
                    drop.append(k)
            if (keep or renames) and drop:
                raise ValueError("$project cannot mix inclusion and exclusion")
            if keep or renames:
                df = df.select(*keep, *renames)
            elif drop:
                df = df.drop(*drop)
        else:
            raise ValueError(f"unsupported pipeline stage: {op!r}")
    return df


# ---------------------------------------------------------------------------
# Redis
# ---------------------------------------------------------------------------


def _glob_to_regex(pattern: str) -> str:
    """Redis KEYS glob (*, ?, [..]) → anchored Java-compatible regex.
    fnmatch.translate emits (?s:...)\\Z; rlike is a *find*, so anchor
    the start too."""
    return "\\A" + fnmatch.translate(pattern)


def run_redis(
    cmd: str,
    kv: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Execute one Redis command against the KV frame.

    Read commands (KEYS/GET/MGET/EXISTS/DBSIZE) return result frames;
    write commands (SET/DEL) return the NEW KV state frame."""
    parts = shlex.split(cmd.strip())
    if not parts:
        raise ValueError("empty Redis command")
    op, args = parts[0].upper(), parts[1:]
    key, value = F.col(key_col), F.col(value_col)
    if op == "KEYS":
        return (
            kv.filter(key.rlike(_glob_to_regex(args[0])))
            .select(key.alias("key"))
            .orderBy("key")
        )
    if op == "GET":
        return kv.filter(key == args[0]).select(value.alias("value"))
    if op == "MGET":
        return (
            kv.filter(key.isin(args))
            .select(key.alias("key"), value.alias("value"))
            .orderBy("key")
        )
    if op == "EXISTS":
        return kv.filter(key.isin(args)).agg(F.count(F.lit(1)).alias("n"))
    if op == "DBSIZE":
        return kv.agg(F.count(F.lit(1)).alias("dbsize"))
    if op == "SET":
        k, v = args[0], args[1]
        row = kv.sparkSession.createDataFrame(
            [(k, v)], f"{key_col} string, {value_col} string"
        )
        # null-safe: plain != drops NULL-key rows (3VL), deleting
        # unrelated data on every SET
        return kv.filter(~key.eqNullSafe(k)).unionByName(row, allowMissingColumns=True)
    if op == "DEL":
        # null-safe like SET: ~NULL is NULL and filter drops it, so a
        # bare ~isin would delete unrelated NULL-key rows (3VL)
        return kv.filter(~F.coalesce(key.isin(args), F.lit(False)))
    # TTL family (the reference copies TTLs with every key,
    # redis.go:125-164; T12): operates on the optional ttl_ms column
    # of the KV model (operators/kv.py)
    if op == "TTL":
        # Redis contract: -2 missing key, -1 no expiry, else seconds
        # rounded to NEAREST ((pttl+500)/1000, ttlGenericCommand) —
        # truncation would answer 1 where Redis says 2 for pttl=1999
        ttl_col = (
            ((F.col("ttl_ms") + 500) / 1000).cast("long")
            if "ttl_ms" in kv.columns
            else F.lit(None).cast("long")
        )
        return kv.agg(
            F.coalesce(
                F.max(F.when(key == args[0], F.coalesce(ttl_col, F.lit(-1)))),
                F.lit(-2),
            )
            .cast("long")
            .alias("ttl")
        )
    if op in ("EXPIRE", "PERSIST", "SETEX"):
        base = (
            kv
            if "ttl_ms" in kv.columns
            else kv.withColumn("ttl_ms", F.lit(None).cast("long"))
        )
        if op == "EXPIRE":
            ms = F.lit(int(args[1]) * 1000).cast("long")
            return base.withColumn(
                "ttl_ms", F.when(key == args[0], ms).otherwise(F.col("ttl_ms"))
            )
        if op == "PERSIST":
            return base.withColumn(
                "ttl_ms",
                F.when(key == args[0], F.lit(None).cast("long")).otherwise(
                    F.col("ttl_ms")
                ),
            )
        k, secs, v = args[0], int(args[1]), args[2]
        row = base.sparkSession.createDataFrame(
            [(k, v, secs * 1000)], f"{key_col} string, {value_col} string, ttl_ms long"
        )
        return base.filter(~key.eqNullSafe(k)).unionByName(
            row, allowMissingColumns=True
        )
    raise ValueError(f"unsupported Redis command: {op!r}")


# ---------------------------------------------------------------------------
# registry queries (driver-verified against DuckDB)
# ---------------------------------------------------------------------------


def _t(spark, sf_dir: str, name: str) -> DataFrame:
    from sync_spark.sources.readers import read_table

    return read_table(spark, sf_dir, name)


MONGO_JS_QUERY = (
    "db.orders.find({o_orderstatus: 'F', o_totalprice: {$gt: 200000}}, "
    "{o_orderkey: 1, o_custkey: 1, o_totalprice: 1})"
    ".sort({o_totalprice: -1, o_orderkey: 1}).limit(20)"
)


def pt_mongo_find(spark, sf_dir: str) -> DataFrame:
    return run_mongo_js(MONGO_JS_QUERY, lambda c: _t(spark, sf_dir, c))


PT_MONGO_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 200000
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def pt_redis_keys(spark, sf_dir: str) -> DataFrame:
    """KEYS glob over a KV projection of documents (key = doc:<id>)."""
    kv = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("key"),
        F.col("text").alias("value"),
    )
    return run_redis("KEYS doc:1?3*", kv)


PT_REDIS_SQL = """
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS key
FROM documents
WHERE ('doc:' || CAST(doc_id AS VARCHAR)) LIKE 'doc:1_3%'
ORDER BY key
"""


MONGO_AGG_STMT = (
    "db.orders.aggregate(["
    "{$match: {o_orderstatus: 'F'}}, "
    "{$group: {_id: '$o_orderpriority', n: {$sum: 1}, "
    "total: {$sum: '$o_totalprice'}, avg_price: {$avg: '$o_totalprice'}, "
    "max_price: {$max: '$o_totalprice'}}}, "
    "{$sort: {_id: 1}}"
    "])"
)


def pt_mongo_aggregate(spark, sf_dir: str) -> DataFrame:
    """aggregate() pipeline → groupBy/agg plan; DECIMAL money sums
    per the repo discipline, so DuckDB reproduces the exact doubles."""
    return run_mongo_aggregate(MONGO_AGG_STMT, lambda c: _t(spark, sf_dir, c))


PT_MONGO_AGG_SQL = """
SELECT o_orderpriority AS _id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY _id
"""


MONGO_UPDATE_STMT = (
    "db.customer.updateMany({c_mktsegment: 'BUILDING', c_acctbal: {$lt: 0}}, "
    "{$set: {c_mktsegment: 'REVIEW'}})"
)


def pt_mongo_update(spark, sf_dir: str) -> DataFrame:
    """updateMany new-state (the write verb's full output is a pure
    projection, so DuckDB can oracle it with a CASE expression)."""
    new_state, _ = run_mongo_js_write(MONGO_UPDATE_STMT, _t(spark, sf_dir, "customer"))
    return new_state


PT_MONGO_UPDATE_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
            THEN 'REVIEW' ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""


MONGO_DELETE_STMT = "db.customer.deleteMany({c_acctbal: {$lt: 0}})"


def pt_mongo_delete(spark, sf_dir: str) -> DataFrame:
    """deleteMany new-state = negated-predicate filter (NULL-matching
    rows are kept, like Mongo, which only deletes matching docs)."""
    new_state, _ = run_mongo_js_write(MONGO_DELETE_STMT, _t(spark, sf_dir, "customer"))
    return new_state


PT_MONGO_DELETE_SQL = """
SELECT * FROM customer
WHERE NOT coalesce(c_acctbal < 0, FALSE)
"""


MERGE_STMT = """MERGE INTO customer AS t USING (
  SELECT c_custkey, c_name || '*' AS c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
         c_custkey % 21 = 0 AS dead
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW-' || c_name, c_nationkey,
         0.0 AS c_acctbal, 'NEW' AS c_mktsegment, false AS dead
  FROM customer WHERE c_custkey % 100 = 0
) s ON t.c_custkey = s.c_custkey
WHEN MATCHED AND s.dead = true THEN DELETE
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *"""


def pt_merge_into(spark, sf_dir: str) -> DataFrame:
    """Statement-level MERGE INTO through dispatch_execute: every
    %7 customer is replaced with a bumped after-image, every %21 one
    is deleted, and synthesized %100 keys insert — the S12/S13 merge
    semantics as a SQL statement, returned as the post-merge state.
    The oracle recomputes the same merge as anti-join ∪ survivors.
    No ORDER BY (r6): the harness canonical-sorts before hashing, and
    a statement user at 100 TB must not pay a pointless global range
    sort on the post-merge state (test_plan_quality pins the absence
    of a Sort node)."""
    cust = _t(spark, sf_dir, "customer")

    def run_sql(q: str) -> DataFrame:
        cust.createOrReplaceTempView("customer")
        return spark.sql(q)

    _, _, new_state = dispatch_execute(
        MERGE_STMT, resolve={"customer": cust}.__getitem__, run_sql=run_sql
    )
    return new_state.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "c_mktsegment",
    )


PT_MERGE_SQL = """
WITH src AS (
  SELECT c_custkey, c_name || '*' AS c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
         c_custkey % 21 = 0 AS dead
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW-' || c_name, c_nationkey,
         0.0 AS c_acctbal, 'NEW' AS c_mktsegment, false AS dead
  FROM customer WHERE c_custkey % 100 = 0
), merged AS (
  SELECT t.c_custkey, t.c_name, t.c_acctbal, t.c_mktsegment
  FROM customer t
  WHERE t.c_custkey NOT IN (SELECT c_custkey FROM src)
  UNION ALL
  -- ANSI arm semantics: a source row lands unless it is BOTH dead
  -- and matched (the delete arm only applies to matched rows; an
  -- unmatched dead row still inserts through the INSERT arm)
  SELECT s.c_custkey, s.c_name, s.c_acctbal, s.c_mktsegment
  FROM src s
  WHERE NOT s.dead
     OR s.c_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal, c_mktsegment
FROM merged ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# unified dispatch — the reference's /sql/execute entry point
# ---------------------------------------------------------------------------

_REDIS_VERBS = {
    "KEYS", "GET", "MGET", "EXISTS", "DBSIZE", "TTL",  # reads
    "SET", "DEL", "EXPIRE", "PERSIST", "SETEX",  # writes (mutate KV state)
}
_REDIS_WRITE_VERBS = {"SET", "DEL", "EXPIRE", "PERSIST", "SETEX"}


# ---------------------------------------------------------------------------
# SQL MERGE INTO (S12/S13 surface as a statement)
# ---------------------------------------------------------------------------

_MERGE_RE = re.compile(r"^\s*MERGE\s+INTO\s", re.IGNORECASE)
_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<tgt>\w+)(?:\s+AS\s+(?P<ta>\w+)|\s+(?P<ta2>\w+))?"
    r"\s+USING\s+",
    re.IGNORECASE,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED\s*(?:AND\s+(?P<cond>.*?))?\s*THEN\s+"
    r"(?P<act>UPDATE\s+SET\s+\*|INSERT\s+\*|DELETE)",
    re.IGNORECASE | re.DOTALL,
)
_ON_KEY_RE = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


def _mask_quoted(s: str) -> str:
    """Replace the CONTENTS of quoted spans ('...' / \"...\") with
    spaces, honoring backslash escapes (same discipline as
    _split_args) — so token/paren scans never match inside literals
    while every index still lines up with the original string."""
    out = list(s)
    in_str = ""
    for i, ch in enumerate(s):
        if in_str:
            if ch == in_str and s[i - 1] != "\\":
                in_str = ""
            else:
                out[i] = " "
        elif ch in "'\"":
            in_str = ch
    return "".join(out)


@dataclass
class MergeSql:
    target: str
    source: str  # table name, or "(subquery)" verbatim
    keys: list  # [(target_col, source_col)]
    matched_delete: Optional[str]  # condition text, "" = unconditional
    has_update: bool
    has_insert: bool
    t_alias: str
    s_alias: str


def parse_merge_sql(q: str) -> MergeSql:
    """Restricted ANSI MERGE grammar matching the engine's CDC
    semantics (the reference applies full-document upserts/deletes —
    mongodb.go ReplaceOne/DeleteOne; cited for parity, not ported):

        MERGE INTO <tgt> [AS t] USING <src | (subquery)> [AS s]
        ON t.k = s.k [AND ...]
        [WHEN MATCHED [AND <cond-on-source>] THEN DELETE]
        [WHEN MATCHED THEN UPDATE SET *]
        [WHEN NOT MATCHED THEN INSERT *]

    Column-level ``UPDATE SET c = expr`` is deliberately out of scope:
    the store's merge is full-after-image by design (SET * / INSERT *),
    exactly the reference's replace semantics. Raises ValueError on
    anything outside the grammar."""
    m = _MERGE_HEAD_RE.match(q)
    if not m:
        raise ValueError("malformed MERGE: expected MERGE INTO <table> USING ...")
    tgt = m.group("tgt")
    t_alias = m.group("ta") or m.group("ta2") or tgt
    rest = q[m.end():].lstrip()
    if rest.startswith("("):
        # scan the QUOTE-MASKED text (parens inside string literals /
        # quoted identifiers must not count), slice the original
        masked = _mask_quoted(rest)
        depth, i = 0, 0
        for i, ch in enumerate(masked):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0:
                break
        if depth != 0:
            raise ValueError("malformed MERGE: unbalanced USING subquery")
        source = rest[: i + 1]
        rest = rest[i + 1:].lstrip()
    else:
        sm = re.match(r"(\w+)", rest)
        if not sm:
            raise ValueError("malformed MERGE: missing USING source")
        source = sm.group(1)
        rest = rest[sm.end():].lstrip()
    am = re.match(r"(?:AS\s+)?(\w+)\s+", rest, re.IGNORECASE)
    s_alias = source
    if am and am.group(1).upper() != "ON":
        s_alias = am.group(1)
        rest = rest[am.end():].lstrip()
    om = re.match(r"ON\s+(?P<on>.*?)\s*(?=WHEN\s)", rest, re.IGNORECASE | re.DOTALL)
    if not om:
        raise ValueError("malformed MERGE: expected ON <keys> WHEN ...")
    keys = []
    for term in re.split(r"\s+AND\s+", om.group("on").strip(), flags=re.IGNORECASE):
        km = _ON_KEY_RE.match(term)
        if not km:
            raise ValueError(
                f"unsupported MERGE ON term {term!r}: only "
                "<alias>.<col> = <alias>.<col> equality conjunctions"
            )
        a1, c1, a2, c2 = km.groups()
        if a1 == t_alias and a2 == s_alias:
            keys.append((c1, c2))
        elif a1 == s_alias and a2 == t_alias:
            keys.append((c2, c1))
        else:
            raise ValueError(
                f"MERGE ON aliases {a1!r}/{a2!r} do not match "
                f"target {t_alias!r} / source {s_alias!r}"
            )
    matched_delete, has_update, has_insert = None, False, False
    when_region = rest[om.end():]
    whens = list(_WHEN_RE.finditer(when_region))
    if not whens:
        raise ValueError("malformed MERGE: no WHEN clause")
    # EVERY arm must parse: an unrecognized arm (e.g. column-level
    # UPDATE SET c = expr) silently skipped would execute the
    # statement with altered semantics — require the matched spans to
    # tile the whole WHEN region
    pos = 0
    for wm in whens:
        if when_region[pos : wm.start()].strip():
            raise ValueError(
                f"unsupported MERGE clause: {when_region[pos:wm.start()].strip()[:80]!r}"
            )
        pos = wm.end()
    if when_region[pos:].strip(" \t\n;"):
        raise ValueError(
            f"unsupported MERGE clause: {when_region[pos:].strip()[:80]!r}"
        )
    for wm in whens:
        act = re.sub(r"\s+", " ", wm.group("act").upper())
        is_not = bool(wm.group("not"))
        cond = (wm.group("cond") or "").strip()
        if re.search(r"\b(WHEN|THEN)\b", _mask_quoted(cond), re.IGNORECASE):
            # the lazy cond capture would otherwise FUSE an
            # unrecognized arm into the previous arm's condition
            # (quote-masked: a literal 'THEN' inside a string is fine)
            raise ValueError(f"unsupported MERGE condition {cond[:80]!r}")
        if act == "DELETE":
            if is_not:
                raise ValueError("WHEN NOT MATCHED THEN DELETE is not meaningful")
            if matched_delete is not None:
                raise ValueError("at most one WHEN MATCHED ... DELETE clause")
            matched_delete = cond
        elif act == "UPDATE SET *":
            if is_not or cond:
                raise ValueError("UPDATE arm must be plain WHEN MATCHED THEN UPDATE SET *")
            has_update = True
        else:  # INSERT *
            if not is_not or cond:
                raise ValueError("INSERT arm must be plain WHEN NOT MATCHED THEN INSERT *")
            has_insert = True
    return MergeSql(tgt, source, keys, matched_delete, has_update, has_insert, t_alias, s_alias)


def run_merge_sql(
    q: str,
    resolve: Callable[[str], DataFrame],
    run_sql: Optional[Callable[[str], DataFrame]] = None,
    eager_guard: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Execute a restricted MERGE INTO statement against the resolved
    target frame → ``(affected_counts, new_target_state)``. Compiles
    onto merge.apply_changes — the SAME kernel the CDC pipeline uses,
    so statement-merge and stream-merge semantics can never drift.

    ANSI discipline (SQL:2003's 'attempt to update the same row
    twice'): a source key producing TWO OR MORE change actions makes
    the merge non-deterministic and raises. Duplicate source keys
    whose extra rows produce no action (matched duplicates under an
    insert-only MERGE; duplicates failing a conditional DELETE with
    no UPDATE arm) are deterministic and allowed. The guard is
    IN-PLAN (an assert on the per-key aggregate the change set is
    rebuilt from, so it costs no extra job) and raises when a returned frame is
    evaluated; ``eager_guard=True`` additionally pre-checks with one
    driver-side job and raises ``ValueError`` before returning.
    UPDATE/INSERT arms require the source to carry every target
    column (full after-image, SET *)."""
    from sync_spark.operators import merge as mg

    spec = parse_merge_sql(q)
    target = resolve(spec.target)
    if spec.source.startswith("("):
        if run_sql is None:
            raise ValueError("MERGE USING (subquery) needs a SQL runner")
        source = run_sql(spec.source[1:-1])
    else:
        source = resolve(spec.source)
    # rename source key columns onto the target's key names
    keys = []
    for t_col, s_col in spec.keys:
        if s_col != t_col:
            source = source.withColumnRenamed(s_col, t_col)
        keys.append(t_col)
    needs_rows = spec.has_update or spec.has_insert
    if needs_rows:
        missing = [c for c in target.columns if c not in source.columns]
        if missing:
            raise ValueError(
                f"MERGE ... SET */INSERT * needs the full after-image; "
                f"source is missing target columns {missing}"
            )
    del_cond = None
    if spec.matched_delete is not None:
        cond_txt = spec.matched_delete
        if cond_txt and re.search(rf"\b{re.escape(spec.t_alias)}\.", cond_txt):
            raise ValueError(
                "MERGE delete conditions may reference the SOURCE row only "
                f"(got a {spec.t_alias!r}.<col> reference); the matched "
                "target row is the full-after-image the source replaces"
            )
        if cond_txt:
            # strip the source alias prefix: the condition evaluates
            # against the bare source frame
            cond_txt = re.sub(rf"\b{re.escape(spec.s_alias)}\.", "", cond_txt)
        del_cond = F.expr(cond_txt) if cond_txt else F.lit(True)
    # compile every arm into ONE existence-join + CASE (r8; the r7
    # per-arm semi/anti joins compiled to a 3-way Union whose
    # broadcast build sides constraint-inference specialized per arm
    # — four distinct broadcast exchanges, no reuse, one scheduler
    # wave each): the match flag is an EXISTS probe against the
    # target keys, and the arm an action row belongs to is a CASE
    # over (flag, delete condition) — ANSI order: a matched row tests
    # the DELETE arm first (3VL: a NULL condition neither deletes nor
    # drops the row — it falls through to the update arm), an
    # unmatched row only ever inserts.
    matched = F.col("__m").isNotNull()
    op_case = F.lit(None).cast("string")
    if spec.has_insert:
        op_case = F.when(~matched, F.lit("insert")).otherwise(op_case)
    if spec.has_update:
        op_case = F.when(matched, F.lit("insert")).otherwise(op_case)
    if del_cond is not None:
        op_case = F.when(
            matched & F.coalesce(del_cond, F.lit(False)), F.lit("delete")
        ).otherwise(op_case)
    # (an EXISTS-subquery spelling would plan an ExistenceJoin and
    # probe without fanout, but Spark's PushProjectionThroughUnion
    # breaks on ExistenceJoin attributes under union-shaped sources —
    # hit in testing — so the flag is a left join against the target
    # keys, deliberately WITHOUT a dedup: deduplicating the build
    # side cost a whole shuffle stage, and a target that does carry
    # duplicate matched keys fans the probe out to per-key action
    # counts > 1, which the in-plan guard below turns into the
    # duplicate-keys error — strictly safer than the silent
    # two-rows-collapse-into-one the r7 path produced there.
    # No hard broadcast hint (r9): the target scales with the data,
    # so the strategy belongs to AQE — it broadcasts the key set at
    # every tested sf and falls back to a shuffled join at the scale
    # where a pinned broadcast would force a multi-GB build.)
    tgt_flag = target.select(*keys).withColumn("__m", F.lit(True))
    joined = source.join(tgt_flag, list(keys), "left")
    types = {f.name: f.dataType for f in target.schema.fields}
    cols = [
        (F.col(c) if c in joined.columns else F.lit(None).cast(types[c])).alias(c)
        for c in target.columns
    ]
    changes = joined.select(
        *cols, op_case.alias(mg.OP_COL), F.lit(0).cast("long").alias(mg.SEQ_COL)
    ).filter(F.col(mg.OP_COL).isNotNull())
    arm_names = sorted(
        ({"delete"} if del_cond is not None else set())
        | ({"upsert"} if (spec.has_update or spec.has_insert) else set())
    )
    # SQL:2003 duplicate-key guard, riding the per-key aggregate the
    # change set is rebuilt from (r8; r7 still paid one eager collect
    # per statement): a per-key action count with an in-plan
    # assert_true. The invariant (per ADVICE r7): a key
    # producing >= 2 change ACTIONS raises (its apply order would be
    # non-deterministic); duplicate source keys whose extra rows
    # produce <= 1 action (e.g. matched dups under an insert-only
    # MERGE, or dups failing a conditional DELETE with no UPDATE arm)
    # are deterministic and intentionally allowed. The raise surfaces
    # when the merge job (or the affected-counts job) actually runs;
    # pass eager_guard=True to fail fast with a driver-side
    # ValueError at the cost of one aggregation job.
    # the aggregate also CARRIES the action row (guard guarantees
    # exactly one per surviving key, so first() is deterministic
    # everywhere the result is observable), so the merge kernel reads
    # the change set THROUGH the guard
    non_keys = [c for c in changes.columns if c not in keys]
    key_stats = changes.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.col(mg.OP_COL) == mg.DELETE_OP).cast("long")).alias("__ndel"),
        F.first(F.struct(*non_keys)).alias("__row"),
    )
    dup_msg = F.concat(
        F.lit("MERGE source has duplicate keys (e.g. ["),
        F.concat_ws(", ", *[F.col(k).cast("string") for k in keys]),
        F.lit("]): non-deterministic per SQL:2003"),
    )
    guarded = key_stats.filter(F.assert_true(F.col("__n") <= 1, dup_msg).isNull())
    if eager_guard:
        dup = (
            changes.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"MERGE source has duplicate keys (e.g. "
                f"{[dup[0][k] for k in keys]}): non-deterministic per SQL:2003"
            )
    # rebuild the (guarded, already unique) change set from the
    # aggregate; getField, not the string path f"__row.{c}": a column
    # name containing a dot would misresolve as a nested path (r8
    # review; merge._unpack uses the same dot-safe form)
    changes_unique = guarded.select(
        *[
            (F.col(c) if c in keys else F.col("__row").getField(c).alias(c))
            for c in changes.columns
        ]
    )
    new_state = mg.apply_changes(target, changes_unique, keys)
    # affected counts, lazily, THROUGH the guard (collecting only the
    # counts of a duplicate-key merge must raise too)
    affected = (
        guarded.agg(
            F.coalesce(F.sum("__ndel"), F.lit(0)).alias("d"),
            F.coalesce(F.sum(F.col("__n") - F.col("__ndel")), F.lit(0)).alias("u"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit("delete").alias("op"), F.col("d").cast("long").alias("n")),
                    F.struct(F.lit("upsert").alias("op"), F.col("u").cast("long").alias("n")),
                )
            ).alias("r")
        )
        .select("r.op", "r.n")
        .filter(F.col("op").isin(arm_names))
        .orderBy("op")
    )
    return affected, new_state


def dispatch_execute(
    query: str,
    *,
    resolve: Callable[[str], DataFrame],
    kv: Optional[DataFrame] = None,
    run_sql: Optional[Callable[[str], DataFrame]] = None,
) -> tuple[str, DataFrame, Optional[DataFrame]]:
    """One entry point for all the dialects, like the reference's
    /sql/execute (pkg/api/auth_handler.go:1267-1883): pattern-match
    into SQL MERGE INTO (statement-level upsert/delete on a target,
    compiled onto the CDC merge kernel), Mongo-JS read, Mongo-JS
    write, Redis command, else ANSI SQL.

    Returns ``(kind, result, new_state)``: for reads ``new_state`` is
    None; for Mongo/Redis writes ``result`` is the affected-rows frame
    (the reference's "N documents" message) and ``new_state`` is the
    post-write collection/KV frame the caller persists.
    """
    q = query.strip()
    if _MERGE_RE.match(q):
        affected, new_state = run_merge_sql(q, resolve, run_sql)
        return ("merge", affected, new_state)
    if _FIND_RE.match(q):
        return ("mongo_find", run_mongo_js(q, resolve), None)
    if _AGG_RE.match(q):
        return ("mongo_aggregate", run_mongo_aggregate(q, resolve), None)
    wm = _WRITE_RE.match(q)
    pm = None if wm else _PUSH_LOOP_RE.search(q)
    if wm or pm:
        coll = wm.group("coll") if wm else pm.group("coll")
        new_state, affected = run_mongo_js_write(q, resolve(coll))
        return ("mongo_write", affected, new_state)
    first = q.split(None, 1)[0].upper() if q else ""
    if first in _REDIS_VERBS:
        if kv is None:
            raise ValueError(f"Redis command {first!r} needs a KV frame")
        out = run_redis(q, kv)
        if first in _REDIS_WRITE_VERBS:
            affected = out.agg(F.count(F.lit(1)).alias("n_keys")).select(
                F.lit(first).alias("op"), F.col("n_keys")
            )
            return ("redis_write", affected, out)
        return ("redis", out, None)
    if run_sql is None:
        raise ValueError("not a Mongo/Redis query and no SQL runner provided")
    return ("sql", run_sql(q), None)
