"""Predicate AST for real-ORC statistics pruning — behavioral mirror of
the reference's `src/predicate.rs:27-186` (Comparison / IsNull /
IsNotNull / And / Or / Not) and its stats evaluation in
`src/row_group_filter.rs:51-470`.

Semantics: an evaluation returns False (skip) only when the statistics
PROVE no row in the unit (stripe or row group) can match; missing
statistics, unsupported types, and undecidable cases all return True
(keep).  Internally the evaluator is THREE-VALUED — each node computes
(may_match, must_match_all) — so `Not` stays sound: `not p` skips a
unit only when `p` provably matches EVERY row in it.  This deliberately
deviates from the reference's plain boolean negation
(`row_group_filter.rs:106-114`), which silently prunes units that
contain matching rows whenever the inner answer was merely "maybe";
ours keeps strictly more (never fewer) rows than the reference there,
preserving the conservative-pruning contract for arbitrary nesting.

This is the engine's one min/max comparison: every container hands it
`ColStats`.  A NaN min or max proves nothing (ORC-629).  A unit whose
column `may_have_nan` is evaluated in parts, its NaN rows apart from the
rest: on NaN rows a comparison is decided, and it may match when it
holds under IEEE rules (NaN matches only `ne`) or Spark's (NaN is
greater than every double and equal to itself), since `read_orc_spark`
filters the kept rows with Spark.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class ColStats:
    """Per-unit column statistics (one stripe or one row group)."""
    min: object = None
    max: object = None
    n_values: int | None = None     # non-null count
    has_null: bool | None = None
    may_have_nan: bool = False      # NaN rows may sit outside [min, max]

    @property
    def range(self):
        if self.min is None or self.max is None or \
                self.min != self.min or self.max != self.max:  # NaN
            return None
        return (self.min, self.max)


_EPS = 1e-9  # reference float epsilon (`row_group_filter.rs:361-372`)


class Predicate:
    """AST node.  Build with the factory classmethods:

    >>> Predicate.and_([Predicate.gte("age", 18), Predicate.eq("city", "NYC")])
    """

    def __init__(self, kind: str, column: str | None = None,
                 op: str | None = None, value=None,
                 children: list["Predicate"] | None = None):
        self.kind = kind          # cmp | is_null | is_not_null | and | or | not
        self.column = column
        self.op = op              # eq ne lt le gt ge
        self.value = value
        self.children = children or []

    # -- factories (the reference's constructor surface) ------------------
    @classmethod
    def eq(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "eq", value)

    @classmethod
    def ne(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "ne", value)

    @classmethod
    def lt(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "lt", value)

    @classmethod
    def lte(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "le", value)

    @classmethod
    def gt(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "gt", value)

    @classmethod
    def gte(cls, column: str, value) -> "Predicate":
        return cls("cmp", column, "ge", value)

    @classmethod
    def is_null(cls, column: str) -> "Predicate":
        return cls("is_null", column)

    @classmethod
    def is_not_null(cls, column: str) -> "Predicate":
        return cls("is_not_null", column)

    @classmethod
    def and_(cls, predicates: list["Predicate"]) -> "Predicate":
        return cls("and", children=list(predicates))

    @classmethod
    def or_(cls, predicates: list["Predicate"]) -> "Predicate":
        return cls("or", children=list(predicates))

    @classmethod
    def not_(cls, predicate: "Predicate") -> "Predicate":
        return cls("not", children=[predicate])

    @classmethod
    def from_range_dict(cls, ranges: dict[str, tuple]) -> "Predicate":
        """Back-compat: {col: (lo, hi)} -> AND of >= lo / <= hi."""
        parts: list[Predicate] = []
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                parts.append(cls.gte(col, lo))
            if hi is not None:
                parts.append(cls.lte(col, hi))
        return cls.and_(parts)

    def __repr__(self) -> str:
        if self.kind == "cmp":
            return f"({self.column} {self.op} {self.value!r})"
        if self.kind in ("is_null", "is_not_null"):
            return f"({self.column} {self.kind})"
        if self.kind == "not":
            return f"(not {self.children[0]!r})"
        sep = f" {self.kind} "
        return "(" + sep.join(repr(c) for c in self.children) + ")"

    # -- evaluation --------------------------------------------------------
    def evaluate(self, stats_of, bloom_of=None) -> bool:
        """keep/skip for one unit.  `stats_of(column) -> ColStats | None`.

        `bloom_of(column, value) -> bool | None` is an optional second
        evidence channel (ORC bloom filters): False means the value is
        PROVABLY absent from the unit, True/None mean no information.
        A bloom can only strengthen pruning soundly on equality — it
        disproves eq's may side and proves ne's must side (for
        non-nullable units); all other operators ignore it.

        True = the unit may contain matching rows (keep);
        False = statistics prove no row matches (skip)."""
        # a unit's rows split by which of its may-hold-NaN columns are
        # NaN; each part is evaluated on its own (`nan` = its NaN
        # columns), and the unit is kept if any part may match
        cols = [c for c in sorted(self.columns())
                if (st := stats_of(c)) is not None and st.may_have_nan]
        if len(cols) > 6:
            return True
        return any(
            self._evaluate3(stats_of, bloom_of,
                            {c for i, c in enumerate(cols) if k >> i & 1})[0]
            for k in range(1 << len(cols)))

    def _evaluate3(self, stats_of, bloom_of=None,
                   nan=frozenset()) -> tuple[bool, bool]:
        """(may_match, must_match_all): may_match False proves NO row
        matches; must_match_all True proves EVERY row matches.  Both are
        conservative under-/over-approximations, so `not` can swap them
        soundly: not(p) may-match unless p must-match-all, and
        must-match-all only when p cannot match at all."""
        k = self.kind
        if k == "and":
            mays, musts = zip(*(c._evaluate3(stats_of, bloom_of, nan)
                                for c in self.children)) \
                if self.children else ((), ())
            return all(mays), all(musts) if musts else True
        if k == "or":
            if not self.children:
                return True, False
            mays, musts = zip(*(c._evaluate3(stats_of, bloom_of, nan)
                                for c in self.children))
            # any child matching all rows makes the OR match all rows
            # (sufficient, not necessary — stays an under-approximation)
            return any(mays), any(musts)
        if k == "not":
            may_c, must_c = self.children[0]._evaluate3(stats_of,
                                                        bloom_of, nan)
            return not must_c, not may_c
        if self.column in nan:
            return self._on_nan()
        st = stats_of(self.column)
        if st is None:
            return True, False
        if k == "is_null":
            may = True if st.has_null is None else bool(st.has_null)
            must = st.n_values == 0 if st.n_values is not None else False
            return may, must
        if k == "is_not_null":
            may = True if st.n_values is None else st.n_values > 0
            must = st.has_null is False
            return may, must
        # comparison
        if st.n_values == 0:
            return False, False  # every row is null: no comparison holds
        rng = st.range
        if rng is None:
            return True, False
        mn, mx = rng
        v = self.value
        if isinstance(v, bool) or v is None:
            return True, False  # boolean ranges unsupported; conservative
        if isinstance(v, str) != isinstance(mn, str):
            return True, False  # type mismatch with the stats
        # nulls never match a cmp (NaN rows are another part of the unit)
        nullable = st.has_null is not False
        # python compares int with float exactly; converting int stats
        # beyond 2**53 to float rounds them and mis-prunes
        may = {
            "eq": mn <= v <= mx,
            "ne": not (mn == v and mx == v),
            "lt": mn < v,
            "le": mn <= v,
            "gt": mx > v,
            "ge": mx >= v,
        }[self.op]
        if v != v and self.op in ("lt", "le"):
            may = True  # Spark orders every other double below NaN
        if self.op == "eq" and not may and \
                (isinstance(v, float) or isinstance(mn, float)):
            # reference float epsilon (`row_group_filter.rs:361-372`),
            # kept only to WIDEN eq's may side (an over-approximation).
            # ne uses exact bounds — the reference's epsilon there can
            # skip a unit whose rows are within eps of v but not equal;
            # like our NOT semantics, we deviate only in the
            # keeps-more-rows direction.
            may = float(mn) - _EPS <= v <= float(mx) + _EPS
        # the must side is an UNDER-approximation: never widened.
        # Epsilon on eq would over-claim (stats within eps of v with
        # rows != v), and Not(eq) would then silently drop rows.  Exact
        # bounds are always sound: min==v==max ⇒ every row equals v; v
        # outside [min,max] ⇒ no row equals v.
        must = not nullable and {
            "eq": mn == v and mx == v,
            "ne": v < mn or v > mx,
            "lt": mx < v,
            "le": mx <= v,
            "gt": mn > v,
            "ge": mn >= v,
        }[self.op]
        return self._bloom_adjust(may, must, nullable, bloom_of)

    def _on_nan(self) -> tuple[bool, bool]:
        """(may, must) on rows whose column value is NaN: decided, under
        IEEE rules (NaN matches only ne) or Spark's (NaN is above every
        other double and equal to itself); may if either holds."""
        if self.kind != "cmp":
            return (self.kind == "is_not_null",) * 2
        v = self.value
        if isinstance(v, (bool, str)) or v is None:
            return True, False
        ieee = self.op == "ne"
        spark = self.op in (("eq", "le", "ge") if v != v
                            else ("ne", "gt", "ge"))
        return ieee or spark, ieee and spark

    def _bloom_adjust(self, may: bool, must: bool, nullable: bool,
                      bloom_of) -> tuple[bool, bool]:
        """Strengthen a comparison's (may, must) with bloom evidence.
        Only a PROVABLY-ABSENT answer (False) carries information, and
        only for equality: absent disproves eq's may side and proves
        ne's must side when the unit has no nulls (nulls never match a
        comparison, so `ne` cannot match-all through a null)."""
        if bloom_of is None or self.op not in ("eq", "ne") or \
                (self.op == "eq" and not may) or \
                (self.op == "ne" and must):
            return may, must
        if bloom_of(self.column, self.value) is False:
            if self.op == "eq":
                may = False
            else:
                must = not nullable
        return may, must

    def leaves(self):  # comparison and null-check nodes
        if self.kind in ("and", "or", "not"):
            for c in self.children:
                yield from c.leaves()
        else:
            yield self

    def columns(self) -> set[str]:
        return {p.column for p in self.leaves()}

    def has_equality(self) -> bool:
        """Any eq/ne comparison — the only ones a bloom decides."""
        return any(p.op in ("eq", "ne") for p in self.leaves())


def as_predicate(predicate) -> Predicate | None:
    """The public-edge normalizer: a `Predicate` passes through, the
    back-compat {col: (lo, hi)} dict becomes one, None stays None."""
    if isinstance(predicate, dict):
        return Predicate.from_range_dict(predicate)
    return predicate
