"""Composable ``Query`` builder compiling to Catalyst ``Column`` predicates.

Reimplements the reference's ``Query`` (``osmdatapy/osmquery.py:32-209``)
against the Spark data model (SURVEY.md §1.5): elements carry a
``tags MAP<STRING,STRING>`` column instead of a dictionary-encoded EAV
table, so every predicate is ordinary Column algebra that Catalyst can
constant-fold and push toward the scan.

The reference compiles string predicates to per-block integer sets
(``osmquery.py:238-323``); none of that machinery is needed here — Parquet
dictionary filtering + Catalyst give the same skipping on real string
columns.  What we keep is the *semantics*:

- ``must_tags`` — element must have at least one of these tag keys
  (reference ``primitives.py:178-183``).
- ``keep`` / ``exclude`` — dicts ``{key: [values]}``; an empty value list
  means "any value for this key" (``osmquery.py:355``, ``201-206``).
- ``keep_first`` precedence (``primitives.py:213-215``): True ⇒
  ``matches_keep AND NOT matches_exclude``; False ⇒
  ``NOT matches_exclude OR matches_keep``.
- element-kind selection via ``nodes/ways/relations`` booleans
  (``osmquery.py:52-54``), id-set restriction (``osmquery.py:117-136``),
  tag projection (``osmquery.py:107-114``).

Documented-semantics divergences from the reference's buggy paths
(SURVEY.md §2.12): a query with no tag predicates keeps all selected
elements (the reference's ``no_tagval`` path would reject everything when
``keep_first=True``); ``append_relation_type`` actually appends.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark.defaults import DEFAULT_QUERIES

OSMTYPE_NODE = 0
OSMTYPE_WAY = 1
OSMTYPE_RELATION = 2


class Query:
    """Composable element query (reference ``osmquery.py:32-209``).

    Parameters mirror the reference constructor one-for-one; ``compile()``
    turns the query into a single boolean ``Column`` over an element
    DataFrame with columns ``osmid, osmtype, tags``.
    """

    def __init__(
        self,
        defaults: Optional[str] = None,
        nodes: bool = False,
        ways: bool = False,
        relations: bool = False,
        must_tags: Optional[list] = None,
        keep: Optional[dict] = None,
        exclude: Optional[dict] = None,
        keep_first: bool = True,
        tags: Union[list, bool] = True,
        node_ids: Optional[list] = None,
        way_ids: Optional[list] = None,
        relation_type: Optional[list] = None,
        metadata: bool = False,
        geometry: bool = False,
        topology: bool = False,
    ):
        self.nodes = nodes
        self.ways = ways
        self.relations = relations
        self.must_tags = list(must_tags) if must_tags is not None else None
        self.keep = dict(keep) if keep is not None else None
        self.exclude = dict(exclude) if exclude is not None else None
        self.keep_first = keep_first
        self.metadata = metadata
        self.geometry = geometry
        self.relation_type = list(relation_type) if relation_type is not None else None
        self.node_set = set(node_ids) if node_ids is not None else None
        self.way_set = set(way_ids) if way_ids is not None else None
        # tags: True → all (None), False → none ([]), list → that list
        # (reference osmquery.py:107-114)
        self.tags = None if tags is True else ([] if tags is False else list(tags))
        if topology and not (ways and geometry):
            raise ValueError("Ways and geometry must be True when topology is True")
        self.topology = topology
        if defaults is not None:
            self.set_default(defaults)
        self._keep_excl_validator()

    # -- composition (reference osmquery.py:165-209) -----------------------

    def copy(self) -> "Query":
        q = Query.__new__(Query)
        q.__dict__.update(
            {
                k: (v.copy() if isinstance(v, (dict, list, set)) else v)
                for k, v in self.__dict__.items()
            }
        )
        return q

    def set_default(self, name: str) -> None:
        if name not in DEFAULT_QUERIES:
            raise ValueError(f"unknown default query {name!r}; choose from {sorted(DEFAULT_QUERIES)}")
        for k, v in DEFAULT_QUERIES[name].items():
            if k == "tags":
                self.append_tags(v)
            elif k in ("keep", "exclude"):
                # merge, never clobber: a default with keep/exclude=None
                # must not erase filters the caller already composed
                if v is not None:
                    (self.append_keep if k == "keep" else self.append_exclude)(v)
            elif k == "must_tags":
                self.must_tags = sorted(set((self.must_tags or []) + v))
            else:
                setattr(self, k, v)

    def append_tags(self, tags: Union[list, bool]) -> None:
        if tags is True:
            self.tags = None
        elif self.tags is None:
            pass  # already "all tags"
        else:
            self.tags = sorted(set(self.tags + list(tags)))

    def append_keep(self, filter_dict: dict) -> None:
        self.keep = self._merge_filter(self.keep, filter_dict)
        self._keep_excl_validator()

    def append_exclude(self, filter_dict: dict) -> None:
        self.exclude = self._merge_filter(self.exclude, filter_dict)

    def append_relation_type(self, type_list: list) -> None:
        # reference osmquery.py:187 assigns list.extend's None — fixed here
        self.relation_type = sorted(set((self.relation_type or []) + list(type_list)))

    @staticmethod
    def _merge_filter(dict1: Optional[dict], dict2: Optional[dict]) -> dict:
        """Merge {key: [values]} filters; empty list ('any value') wins
        (reference osmquery.py:191-209)."""
        if dict1 is None and dict2 is None:
            raise ValueError("one of the dictionaries must not be None")
        if dict1 is None:
            return dict(dict2)
        if dict2 is None:
            return dict(dict1)
        out = dict(dict1)
        for k, v in dict2.items():
            if not v or (k in out and not out[k]):
                out[k] = []
            elif k in out:
                out[k] = sorted(set(out[k]) | set(v))
            else:
                out[k] = list(v)
        return out

    def _keep_excl_validator(self) -> None:
        # reference osmquery.py:148-160
        if self.keep is None and self.exclude is None:
            return
        if self.keep_first and self.keep is None and self.exclude is not None:
            raise ValueError("keep cannot be None if keep_first is True and exclude is not None")
        if not self.keep_first and self.exclude is None and self.keep is not None:
            raise ValueError("exclude cannot be None if keep_first is False and keep is not None")

    # -- compilation to Column predicates ----------------------------------

    @staticmethod
    def _filter_match(tags_col: Column, filter_dict: Optional[dict]) -> Optional[Column]:
        """True iff any (key[, value]) of ``filter_dict`` matches the tags map.

        Empty value list = any value for that key (reference
        ``osmquery.py:355``); compiled to pure Column algebra so it stays in
        whole-stage codegen — no UDF.
        """
        if not filter_dict:
            # None and {} both mean "no filter" — an empty dict would
            # otherwise crash at parts[0] (and matches the reference's
            # treatment of absent filters, osmquery.py:347-374)
            return None
        parts: list[Column] = []
        for key, values in filter_dict.items():
            has_key = F.map_contains_key(tags_col, lit(key))
            if not values:
                parts.append(has_key)
            else:
                parts.append(has_key & tags_col.getItem(key).isin(list(values)))
        out = parts[0]
        for p in parts[1:]:
            out = out | p
        return out

    def type_predicate(self) -> Column:
        """Kind selection: nodes, ways, relations (reference P1, osmquery.py:259-281)."""
        kinds = [
            t
            for t, on in (
                (OSMTYPE_NODE, self.nodes),
                (OSMTYPE_WAY, self.ways),
                (OSMTYPE_RELATION, self.relations),
            )
            if on
        ]
        if not kinds:
            return lit(False)
        return col("osmtype").isin(kinds)

    def tag_predicate(self, tags_col: Column = None) -> Column:
        """The keep/exclude/must_tags truth table (reference
        ``primitives.py:186-215``) as one boolean Column."""
        tags_col = tags_col if tags_col is not None else col("tags")
        pred = lit(True)
        if self.must_tags is not None:
            must = F.exists(
                F.map_keys(tags_col), lambda k: k.isin(list(self.must_tags))
            )
            pred = pred & must
        kps = self._filter_match(tags_col, self.keep)
        exs = self._filter_match(tags_col, self.exclude)
        if kps is None and exs is None:
            return pred
        kps = kps if kps is not None else lit(False)
        exs = exs if exs is not None else lit(False)
        if self.keep_first:
            return pred & kps & ~exs
        return pred & (~exs | kps)

    def id_predicate(self) -> Column:
        """Id-set restriction per element kind (reference P5,
        osmquery.py:117-136, 259-281). Small literal sets become IN-lists;
        large sets should instead be a broadcast semi-join (see
        OSM.query's id_table path)."""
        pred = lit(True)
        if self.node_set is not None:
            pred = pred & (
                (col("osmtype") != OSMTYPE_NODE) | col("osmid").isin(sorted(self.node_set))
            )
        if self.way_set is not None:
            pred = pred & (
                (col("osmtype") != OSMTYPE_WAY) | col("osmid").isin(sorted(self.way_set))
            )
        return pred

    def relation_type_predicate(self) -> Column:
        """Relation member-type filter (reference P6, primitives.py:127-130
        — note: the reference tests the member-type *enum*, a documented
        quirk; we implement the documented `type=` tag semantics AND keep
        member-enum filtering available via members column)."""
        if self.relation_type is None:
            return lit(True)
        return (col("osmtype") != OSMTYPE_RELATION) | col("tags").getItem("type").isin(
            list(self.relation_type)
        )

    def compile(self) -> Column:
        """Full row predicate: kind ∧ ids ∧ tags ∧ relation-type."""
        return (
            self.type_predicate()
            & self.id_predicate()
            & self.tag_predicate()
            & self.relation_type_predicate()
        )

    def tag_projection(self, tags_col: Column = None) -> Column:
        """Tag-column projection (reference P7, primitives.py:218-227):
        ``tags=list`` keeps only those keys, ``True`` keeps all,
        ``False`` drops the map."""
        tags_col = tags_col if tags_col is not None else col("tags")
        if self.tags is None:
            return tags_col
        if not self.tags:
            return F.map_from_arrays(F.array(), F.array()).cast("map<string,string>")
        wanted = list(self.tags)
        return F.map_filter(tags_col, lambda k, v: k.isin(wanted))

    def apply(self, elements: DataFrame) -> DataFrame:
        """Filter + project an element DataFrame."""
        out = elements.filter(self.compile())
        out = out.withColumn("tags", self.tag_projection())
        keep_cols = ["osmid", "osmtype", "tags"]
        if self.metadata:
            keep_cols += [c for c in ("version", "timestamp", "changeset") if c in out.columns]
        extra = [c for c in ("refs", "members", "lon", "lat") if c in out.columns]
        return out.select(*keep_cols, *extra)


def parse_filter(expr: str, **kwargs) -> Query:
    """Osmium-style tags-filter string → ``Query`` (the ``osmium
    tags-filter`` expression syntax, the lingua franca of OSM CLI
    pipelines — beyond-reference API parity with the wider ecosystem).

    Grammar (one or more whitespace-separated terms OR-ed together, as in
    osmium):

    - each term is ``TYPES/KEY``, ``TYPES/KEY=VALUE`` or
      ``TYPES/KEY=V1,V2``; bare ``KEY``/``KEY=VALUE`` applies to all
      three element types
    - TYPES is any subset of ``n`` (nodes), ``w`` (ways), ``r``
      (relations): ``nw/amenity``, ``w/highway=primary,residential``
    - a term of just ``n``/``w``/``r``/``nwr`` selects the kind with no
      tag condition

    Terms select kinds cumulatively; tag conditions merge into ``keep``
    (key → value-list, empty list = any value — Query's existing
    semantics).  Extra ``kwargs`` (geometry=True, metadata=True, ...)
    pass through to the Query constructor.

    Example::

        parse_filter("w/highway=primary,secondary nwr/amenity")
        # == Query(ways=True, nodes=True, relations=True,
        #          keep={"highway": ["primary", "secondary"], "amenity": []})
    """
    kinds = {"n": False, "w": False, "r": False}
    keep: dict[str, list[str]] = {}
    terms = expr.split()
    if not terms:
        raise ValueError("empty filter expression")
    for term in terms:
        if "/" in term:
            tpart, cond = term.split("/", 1)
            if not tpart or set(tpart) - set("nwr"):
                raise ValueError(f"bad element-type prefix in {term!r} (use n, w, r)")
        else:
            if set(term) <= set("nwr") and term:
                tpart, cond = term, ""
            else:
                tpart, cond = "nwr", term
        for t in tpart:
            kinds[t] = True
        if not cond:
            continue
        if "=" in cond:
            key, vals = cond.split("=", 1)
            values = [v for v in vals.split(",") if v != ""]
        else:
            key, values = cond, []
        if not key:
            raise ValueError(f"missing tag key in {term!r}")
        # repeated keys union their value lists; any-value absorbs all
        if key in keep and (not keep[key] or not values):
            keep[key] = []
        else:
            keep.setdefault(key, []).extend(v for v in values if v not in keep.get(key, []))
    return Query(
        nodes=kinds["n"],
        ways=kinds["w"],
        relations=kinds["r"],
        keep=keep or None,
        **kwargs,
    )
