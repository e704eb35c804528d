"""The one front-end of the SemaDB query language: request -> logical plan.

The reference validates a search request once (models/search.go:27-50,
267-306), then executes it. :func:`parse` is that step: it checks and
normalizes a SearchRequest against the index schema and the collection's
columns and returns frozen plan nodes. :class:`~.compiler.SearchEngine`
compiles them to Spark, :class:`~.local_engine.LocalSearchEngine` to
pandas/NumPy, so both engines accept, default and reject a request the same
way. Execution stays per backend: leaves, the B1-B3 hybrid merge and the
P1-P3 ordering and backfill.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Union

RANKED_COLS = ("_distance", "_score", "_hybridScore")

# Filtered ANN: candidate sets at or below this size are exact-scanned
# instead of IVF-probed — full recall where it's cheap, optimistic probing
# where exactness would cost a table scan. Both backends read it from this
# module at query time.
FILTERED_EXACT_FALLBACK_ROWS = 10_000

_RANGE_OPS = ("equals", "notEquals", "greaterThan", "greaterThanOrEquals",
              "lessThan", "lessThanOrEquals", "inRange")


@dataclass(frozen=True)
class IdFilter:  # equals one value / containsAny of a tuple
    operator: str
    value: object


@dataclass(frozen=True)
class RangeFilter:
    """string/integer/float leaf. With ``fold`` the column is compared
    lower-cased (inverted/string.go:29-50); the values are already folded."""

    prop: str
    kind: str
    operator: str
    value: object
    end_value: object
    fold: bool


@dataclass(frozen=True)
class ArrayFilter:  # stringArray; values deduplicated (and folded)
    prop: str
    contains_all: bool
    values: tuple
    fold: bool


@dataclass(frozen=True)
class VectorLeaf:
    """``search_size``: the request's, else the schema's, else None.
    ``filter``: the R4 pre-filter tree (TextLeaf likewise)."""

    prop: str
    kind: str  # vectorFlat | vectorVamana
    metric: str
    vector: list
    limit: int
    search_size: int | None
    weight: float
    filter: "Node | None"


@dataclass(frozen=True)
class TextLeaf:
    prop: str
    value: str
    operator: str
    limit: int
    weight: float
    filter: "Node | None"


@dataclass(frozen=True)
class Bool:  # _and (conjunction) / _or over two or more children
    conjunction: bool
    children: tuple


Node = Union[IdFilter, RangeFilter, ArrayFilter, VectorLeaf, TextLeaf, Bool]


@dataclass(frozen=True)
class SortKey:  # payload: the root is no column, read the payload map
    path: str
    descending: bool
    payload: bool

    @property
    def root(self) -> str:
        return self.path.split(".", 1)[0]


@dataclass(frozen=True)
class Select:
    """The id column, the plain columns, then ``(root, sub-paths)`` groups
    to re-nest (shard.go:431-448). Names the collection lacks are dropped
    (shard/shard.go:384-453 skips missing fields)."""

    columns: tuple
    nested: tuple


@dataclass(frozen=True)
class Shape:
    offset: int
    limit: int | None  # None: all rows (engine batch extension)
    sort: tuple  # of SortKey
    select: Select | None  # None: every column


@dataclass(frozen=True)
class Plan:
    query: Node
    shape: Shape


def parse(request: dict, schema, columns, id_col: str = "_id") -> Plan:
    """Validate and normalize a SearchRequest (models/search.go:19-50)
    against an IndexSchema and the collection's top-level column names.
    Raises ValueError on an invalid request."""
    if "query" not in request:
        raise ValueError("query is required")
    offset = int(request.get("offset", 0))
    if offset < 0:
        raise ValueError("offset must be greater than or equal to 0")
    # Missing limit defaults to 10 (httpapi/v2/handlers.go:442-445). An
    # EXPLICIT null limit is an engine extension meaning "all rows"
    # (batch-analytics mode; the reference's HTTP API always caps).
    limit = request["limit"] if "limit" in request else 10
    if limit is not None:
        limit = int(limit)
        if not (1 <= limit <= 100):
            raise ValueError("limit must be between 1 and 100")
    query = _node(request["query"], schema)
    columns = set(columns)
    sort = _sort(request.get("sort") or [], columns | set(RANKED_COLS))
    return Plan(query, Shape(offset, limit, sort,
                             _select(request.get("select"), columns, id_col)))


def walk(node: Node) -> Iterator[Node]:
    """Every node of a tree, ranked leaves' pre-filter trees included."""
    yield node
    if isinstance(node, Bool):
        for child in node.children:
            yield from walk(child)
    elif isinstance(node, (VectorLeaf, TextLeaf)) and node.filter is not None:
        yield from walk(node.filter)


def _node(query: dict, schema) -> Node:
    prop = query.get("property")
    if prop in ("_and", "_or"):
        if not query.get(prop):
            raise ValueError(f"{prop} query requires at least one subquery")
        children = tuple(_node(q, schema) for q in query[prop])
        return children[0] if len(children) == 1 else Bool(prop == "_and", children)
    if prop == "_id":
        # shard/index/search.go:171-209: equals or containsAny over UUIDs;
        # unknown ids silently match nothing
        for key, op in (("string", "equals"), ("stringArray", "containsAny")):
            opts = query.get(key)
            if opts is not None:
                if opts["operator"] != op:
                    raise ValueError(f"invalid operator {opts['operator']} for _id")
                v = opts["value"]
                return IdFilter(op, v if key == "string" else tuple(v))
        raise ValueError("invalid query for _id, expected string or stringArray")
    if prop not in schema:
        raise ValueError(f"property {prop} not found in index schema, cannot query")
    value = schema[prop]
    opts = query.get(value.type)
    if opts is None:
        raise ValueError(f"{value.type} query options not provided for property {prop}")
    if value.type in ("vectorFlat", "vectorVamana", "text"):
        return _ranked(prop, opts, value, schema)
    op, v = opts["operator"], opts["value"]
    fold = value.type in ("string", "stringArray") and not value.case_sensitive
    if value.type == "stringArray":
        if op not in ("containsAll", "containsAny"):
            raise ValueError(f"invalid operator {op} for stringArray")
        vals = dict.fromkeys(x.lower() for x in v) if fold else dict.fromkeys(v)
        return ArrayFilter(prop, op == "containsAll", tuple(vals), fold)
    if op not in _RANGE_OPS and not (value.type == "string" and op == "startsWith"):
        raise ValueError(f"invalid operator {op}")
    end = opts.get("endValue")
    if fold:
        v, end = v.lower(), None if end is None else end.lower()
    return RangeFilter(prop, value.type, op, v, end, fold)


def _ranked(prop: str, opts: dict, value, schema) -> VectorLeaf | TextLeaf:
    kind = value.type
    if kind == "text":
        if not opts.get("value"):
            raise ValueError("text query value cannot be empty")
        if opts.get("operator") not in ("containsAll", "containsAny"):
            raise ValueError(f"invalid operator {opts.get('operator')} for text query")
    else:
        vector = opts["vector"]
        if value.vector_size and len(vector) != value.vector_size:
            raise ValueError(
                f"{kind} query vector length mismatch for property {prop}, "
                f"expected {value.vector_size} got {len(vector)}"
            )
        if opts.get("operator", "near") != "near":
            raise ValueError(f"invalid operator {opts['operator']} for vector query")
        if not (1 <= len(vector) <= 4096):
            raise ValueError(
                f"query vector length must be between 1 and 4096, got {len(vector)}"
            )
    # per-search option ranges (models/search.go:267-306); a missing limit
    # takes the lenient default 10 instead of the reference's
    # required-field rejection — batch callers shouldn't have to care
    limit = int(opts.get("limit", 10))
    if not (1 <= limit <= 75):
        what = "text" if kind == "text" else "vector"
        raise ValueError(f"invalid limit {limit} for {what} query, expected 1-75")
    if kind == "vectorVamana" and opts.get("searchSize") is not None:
        ss = int(opts["searchSize"])
        if not (25 <= ss <= 75):
            raise ValueError(f"invalid searchSize {ss} for vector query, expected 25-75")
        if ss < limit:
            raise ValueError("searchSize must be greater than or equal to limit")
    # explicit weight 0 is honored; only an absent field defaults to 1
    # (the reference checks the pointer, not the value)
    weight = 1.0 if opts.get("weight") is None else float(opts["weight"])
    flt = None if opts.get("filter") is None else _node(opts["filter"], schema)
    if kind == "text":
        return TextLeaf(prop, opts["value"], opts["operator"], limit, weight, flt)
    ss = opts.get("searchSize") or value.params.get("searchSize")
    return VectorLeaf(prop, kind, value.distance_metric, vector, limit,
                      None if ss is None else int(ss), weight, flt)


def _sort(sort_opts: list, known: set) -> tuple:
    if len(sort_opts) > 10:
        raise ValueError("sort options exceed maximum of 10")
    keys = []
    for s in sort_opts:
        path = s["property"]
        payload = path.split(".", 1)[0] not in known
        if payload and "payload" not in known:
            raise ValueError(f"unknown sort property {path}")
        keys.append(SortKey(path, bool(s.get("descending")), payload))
    return tuple(keys)


def _select(select, columns: set, id_col: str) -> Select | None:
    if not select or "*" in select:
        return None
    plain = {id_col: None}  # the id always leads, once
    nested: dict = {}
    for p in select:
        root, _, field = p.partition(".")
        if root not in columns:
            continue
        if field:
            nested.setdefault(root, []).append(field)
        else:
            plain[p] = None
    return Select(tuple(plain), tuple((r, tuple(f)) for r, f in nested.items()))
