"""Property-based checks for the MATCH_RECOGNIZE PATTERN parser
(sqlext._parse_pattern) — pure-Python, no Spark session needed.

Three properties over randomly generated pattern ASTs:

1. Rendering a valid AST (with random whitespace/lowercase noise)
   parses, and the canonical regex is semantically equal to the
   directly-rendered regex on random symbol strings (Python re is
   the reference engine here; the engine-parity of the canonical
   ALPHABET is what the adapter guarantees — see the adjacent
   quantifier refusal).
2. The parser's nullability computation agrees with Python re's
   empty-match test: a pattern is refused for EMPTY-matchability
   exactly when the rendered regex matches '' at position 0.
3. Injecting an adjacent quantifier into any valid rendering is
   always refused (the possessive/reluctant engine-divergence
   guard).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from streamz_postgres_spark.sqlext import _max_match_len, _parse_pattern

_SYMS = "VCPE"


@st.composite
def _term(draw, depth: int):
    quant = draw(
        st.sampled_from(
            ["", "*", "+", "?", "{1}", "{2}", "{0,2}", "{1,3}", "{2,}"]
        )
    )
    if depth > 0 and draw(st.booleans()):
        inner = draw(_alt(depth - 1))
        return f"({inner}){quant}"
    return draw(st.sampled_from(_SYMS)) + quant


@st.composite
def _seq(draw, depth: int):
    return "".join(
        draw(st.lists(_term(depth), min_size=1, max_size=4))
    )


@st.composite
def _alt(draw, depth: int):
    return "|".join(
        draw(st.lists(_seq(depth), min_size=1, max_size=3))
    )


@st.composite
def _pattern(draw):
    return draw(_alt(2))


def _noisy(draw_ws, pat: str) -> str:
    """Scatter whitespace between TOKENS and lowercase some symbols
    (the grammar upcases and strips). The PERMUTE keyword is one
    token and stays contiguous — since r12 (the r11 advisor find)
    the keyword is detected on the raw text, so whitespace INSIDE
    it would correctly turn it into seven separate symbols, which
    is a different (also-tested) input, not noise."""
    out = []
    i = 0
    while i < len(pat):
        if pat[i : i + 7].upper() == "PERMUTE":
            out.append(pat[i : i + 7].lower() if draw_ws else pat[i : i + 7])
            i += 7
        else:
            ch = pat[i]
            out.append(ch.lower() if ch.isalpha() and draw_ws else ch)
            i += 1
        if draw_ws:
            out.append(" ")
    return "".join(out)


@given(pat=_pattern(), ws=st.booleans(), s=st.text(_SYMS + "-", max_size=30))
@settings(max_examples=300, deadline=None)
def test_canonical_regex_is_semantically_identical(pat, ws, s):
    rendered = re.compile(pat)
    empty_matchable = rendered.match("") is not None
    try:
        canonical = _parse_pattern(_noisy(ws, pat))
    except ValueError as e:
        # property 2: the refusal reason must be one of the two
        # emptiness classes (the generator never emits adjacent
        # quantifiers or bad bounds): whole-pattern
        # empty-matchability, or — since r12 — REPEATING a nullable
        # group, the RE2-vs-Java/Python empty-iteration divergence
        # the overlap property test surfaced ((E*)|(P))* extracts
        # 'CE' in Python/Java but 'CEP' in RE2)
        if "repeats a group" in str(e):
            return  # repeated-nullable-group refusal, r12
        assert "EMPTY row sequence" in str(e)
        assert empty_matchable
        return
    assert not empty_matchable
    # property 1: same matches, same positions, left-to-right
    got = [m.span() for m in re.finditer(canonical, s)]
    want = [m.span() for m in re.finditer(pat, s)]
    assert got == want


@st.composite
def _sql_item(draw):
    """One projection-list item: identifiers, nested calls with
    comma-separated args, and single-quoted literals that may
    contain commas and parens."""
    depth = draw(st.integers(0, 2))

    def item(d):
        base = draw(st.sampled_from(["a", "b1", "col_x"]))
        if d == 0:
            return base
        n = draw(st.integers(1, 3))
        args = []
        for _ in range(n):
            if draw(st.booleans()):
                args.append(item(d - 1))
            else:
                args.append(
                    "'" + draw(st.text(alphabet=",()ab ", max_size=5)) + "'"
                )
        return f"{base}({', '.join(args)})"

    return item(depth)


@given(items=st.lists(_sql_item(), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_top_level_round_trips(items):
    """_split_top_level is load-bearing for DEFINE / MEASURES /
    REPLACE parsing: commas inside function calls and string
    literals must not split, and joining the parts back with ','
    must reproduce the input byte-for-byte."""
    from streamz_postgres_spark.sqlext import _split_top_level

    joined = ",".join(items)
    parts = _split_top_level(joined)
    assert ",".join(parts) == joined
    assert parts == items


@given(pat=_pattern(), q=st.sampled_from(["*", "+", "?"]))
@settings(max_examples=100, deadline=None)
def test_adjacent_quantifiers_always_refused(pat, q):
    # append a second quantifier after the first quantifier found;
    # if the pattern has none, double-quantify the first symbol
    m = re.search(r"[*+?}]", pat)
    if m is None:
        m2 = re.search(r"[A-Z]", pat)
        i = m2.end()
        hostile = pat[:i] + "*" + q + pat[i:]
    else:
        i = m.end()
        hostile = pat[:i] + q + pat[i:]
    with pytest.raises(ValueError, match="adjacent quantifiers"):
        _parse_pattern(hostile)


@given(pat=_pattern(), s=st.text(_SYMS + "-", max_size=30))
@settings(max_examples=200, deadline=None)
def test_overlap_enumeration_matches_duckdb_probe(pat, s):
    """The SKIP TO NEXT ROW lowering's core claim (r11): the
    per-position anchored '^pattern' probe — the only overlap form
    DuckDB/RE2 can run, since RE2 refuses lookahead — enumerates
    exactly the same (start, extent) set as Python re's lookahead
    scan, for every pattern the parser admits and every symbol
    string. A divergence here would silently split the Spark result
    from its oracle on some corpus; pinning it property-wise means
    the fixture doesn't have to happen to cover the edge."""
    import duckdb

    try:
        canonical = _parse_pattern(pat)
    except ValueError:
        return  # refused patterns never reach the lowering
    # Python reference: lookahead enumeration (also what the live
    # streaming twin q_stream_pattern_overlap executes)
    want = [
        (m.start() + 1, len(m.group(1)))
        for m in re.finditer(f"(?=({canonical}))", s)
    ]
    # DuckDB: per-position anchored probe in list arithmetic (the
    # oracle form); RE2 compiles the same canonical alphabet
    got = duckdb.connect().execute(
        """
        SELECT coalesce(list_filter(
          list_transform(generate_series(1, length(?)), p ->
            struct_pack(sp := p,
                        mlen := length(regexp_extract(?[p:], ?, 1)))),
          t -> t.mlen > 0), []) AS ov
        """,
        [s, s, f"^({canonical})"],
    ).fetchone()[0]
    assert [(t["sp"], t["mlen"]) for t in got] == want


def _bounded(pat: str) -> str:
    """``pat`` with an upper bound on every unbounded quantifier."""
    pat = re.sub(r"\{(\d+),\}", lambda m: f"{{{m[1]},{int(m[1]) + 1}}}", pat)
    return pat.replace("*", "{0,2}").replace("+", "{1,2}")


@given(pat=_pattern(), s=st.text(_SYMS + "-", max_size=30), data=st.data())
@settings(max_examples=300, deadline=None)
def test_max_match_len_bounds_every_anchored_probe(pat, s, data):
    """_probe_hay truncates each per-position probe haystack to
    _max_match_len characters. That is sound only if the bound really
    bounds: no match of the canonical regex is longer than it, and
    matching on the truncated suffix gives the same match as on the
    full suffix at every position. Unbounded quantifiers (``*``,
    ``+``, ``{n,}``) must yield None, which keeps the full suffix.
    Most generated patterns are unbounded, so the bound is checked on
    the pattern with its quantifiers capped; and random symbol
    strings rarely hold a long match, so the haystack starts with a
    string the capped regex matches in full."""
    try:
        regex = _parse_pattern(pat)
        capped = _parse_pattern(_bounded(pat))
    except ValueError:
        return  # refused patterns never reach the lowering
    unbounded = re.search(r"[*+]|\{\d+,\}", regex) is not None
    assert (_max_match_len(regex) is None) == unbounded, regex
    n = _max_match_len(capped)
    assert n is not None, capped
    word = data.draw(st.from_regex(f"(?:{capped})", fullmatch=True))
    assert len(word) <= n, (capped, word)
    hay = word + s
    anchored = re.compile(f"^({capped})")
    for p in range(len(hay) + 1):
        full = anchored.match(hay[p:])
        cut = anchored.match(hay[p : p + n])
        assert (full and full.group(1)) == (cut and cut.group(1)), (capped, hay, p)


@given(
    syms=st.lists(
        st.sampled_from(_SYMS), min_size=2, max_size=4, unique=True
    ),
    quant=st.sampled_from(["", "+", "?", "{1,2}"]),
    lead=st.sampled_from(["", "V", "E?"]),
    ws=st.booleans(),
    s=st.text(_SYMS + "-", max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_permute_expands_to_the_lexicographic_alternation(
    syms, quant, lead, ws, s
):
    """PERMUTE(...) parses (under whitespace/lowercase noise — the
    keyword itself survives the strip+upcase) to exactly the
    alternation of permutations in the written element order, capped
    grouping parens included, composing with leading terms and an
    outer quantifier; and the canonical regex matches like the
    hand-expanded one (trivially, but via the full parse path)."""
    from itertools import permutations as _perms

    pat = f"{lead}PERMUTE({','.join(syms)}){quant}"
    want = (
        lead.upper()
        + "("
        + "|".join("".join(p) for p in _perms(syms))
        + ")"
        + quant
    )
    try:
        got = _parse_pattern(_noisy(ws, pat))
    except ValueError as e:
        # only the empty-matchability refusal is legal here (e.g.
        # E? PERMUTE(..)?): PERMUTE itself is always valid input
        assert "EMPTY row sequence" in str(e)
        assert re.compile(want).match("") is not None
        return
    assert got == want
    assert [m.span() for m in re.finditer(got, s)] == [
        m.span() for m in re.finditer(want, s)
    ]


def _py_skip_to_scan(canonical: str, s: str, mode: str, sym: str):
    """Python reference of the SKIP TO FIRST/LAST scan: leftmost
    match at-or-after the resume position (re.search from r), resume
    at the first/last <sym> offset inside the match INCLUSIVE.
    Returns (matches, err) where err mirrors the lowering's SQL:2016
    runtime-error latches (absent symbol; resume == match start)."""
    pat = re.compile(canonical)
    out, r = [], 0
    while True:
        m = pat.search(s, r)
        if m is None:
            return out, None
        sp, ln = m.start(), m.end() - m.start()
        span = m.group(0)
        idx = span.find(sym) if mode == "FIRST" else span.rfind(sym)
        if idx < 0:
            return out, "absent"
        if idx == 0:
            return out, "loop"
        out.append((sp + 1, ln))  # 1-based like the lowering
        r = sp + idx


@given(
    pat=_pattern(),
    s=st.text(_SYMS + "-", max_size=30),
    mode=st.sampled_from(["FIRST", "LAST"]),
    sym=st.sampled_from(list(_SYMS)),
)
@settings(max_examples=200, deadline=None)
def test_skip_to_enumeration_matches_duckdb_scan(pat, s, mode, sym):
    """The SKIP TO FIRST/LAST lowering's core claim (r12): the
    DuckDB RECURSIVE-CTE oracle scan (list-comprehension leftmost
    probe + first/last-symbol resume arithmetic) enumerates exactly
    the same (start, extent) sequence — and latches the same
    SQL:2016 runtime-error condition — as a direct Python reference
    of the standard's scan, for every pattern the parser admits,
    every symbol string and both modes. Pinning it property-wise
    means the q_pattern_skip_to oracle form cannot silently diverge
    from the batch fold on some corpus (the overlap twin of this
    test caught a REAL RE2 empty-iteration divergence in r12)."""
    import duckdb

    try:
        canonical = _parse_pattern(pat)
    except ValueError:
        return
    if sym not in set(canonical) & set(_SYMS):
        return  # the lowering refuses statically; nothing to scan
    want, want_err = _py_skip_to_scan(canonical, s, mode, sym)
    if mode == "FIRST":
        off = f"strpos(mstr, '{sym}')"
    else:
        off = (
            f"CASE WHEN strpos(reverse(mstr), '{sym}') = 0 THEN 0 "
            f"ELSE length(mstr) - strpos(reverse(mstr), '{sym}') + 1 "
            "END"
        )
    got_rows = duckdb.connect().execute(
        f"""
WITH RECURSIVE scan AS (
  SELECT ?::VARCHAR AS s, 0 AS no, 1 AS r, 0 AS sp, 0 AS mlen,
         0 AS o
  UNION ALL
  SELECT s, no + 1,
         CASE WHEN o >= 2 THEN sp2 + o - 1 ELSE 0 END AS r,
         sp2 AS sp, ml AS mlen, o
  FROM (
    SELECT s, no, sp2, ml, {off.replace("mstr", "s[sp2 : sp2 + ml - 1]")} AS o
    FROM (
      SELECT s, no, sp2,
             length(regexp_extract(s[sp2:], '^({canonical})', 1)) AS ml
      FROM (
        SELECT s, no,
               [q FOR q IN range(r, length(s) + 1)
                  IF regexp_matches(s[q:], '^({canonical})')][1] AS sp2
        FROM scan WHERE r >= 1
      ) WHERE sp2 IS NOT NULL
    )
  )
)
SELECT no, sp, mlen, o FROM scan WHERE no > 0 ORDER BY no
""",
        [s],
    ).fetchall()
    got, got_err = [], None
    for no, sp, mlen, o in got_rows:
        if o == 0:
            got_err = "absent"
            break
        if o == 1:
            got_err = "loop"
            break
        got.append((sp, mlen))
    assert (got, got_err) == (want, want_err)


@st.composite
def _simple_seq(draw, alphabet: str):
    """A small quantified-symbol sequence over a given alphabet
    (symbols only — the shapes exclusion regions are made of)."""
    parts = []
    for _ in range(draw(st.integers(1, 3))):
        parts.append(
            draw(st.sampled_from(list(alphabet)))
            + draw(st.sampled_from(["", "*", "+", "?", "{1,2}"]))
        )
    return "".join(parts)


@given(
    pre=_simple_seq("VP"),
    exc=_simple_seq("CE"),
    post=_simple_seq("VP"),
    s=st.text(_SYMS + "-", max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_exclusion_matches_like_a_plain_group(pre, exc, post, s):
    """The exclusion lowering's core claim (r12): `{- rpr -}` does
    not change MATCHING at all — the emitted canonical regex equals
    the same pattern with the braces replaced by a plain group, the
    excluded-symbol set is exactly the region's letters, and the
    outside set never leaks region symbols (the generator keeps the
    alphabets disjoint, mirroring the lowering's refusal)."""
    info: dict = {}
    try:
        got = _parse_pattern(f"{pre} {{- {exc} -}} {post}", info)
    except ValueError as e:
        # only the emptiness refusals are legal here
        assert ("EMPTY" in str(e)) or ("repeats a group" in str(e))
        try:
            _parse_pattern(f"{pre} ({exc}) {post}")
        except ValueError:
            return  # plain-group twin refused identically
        raise AssertionError(
            "exclusion refused where the plain group parses"
        )
    want = _parse_pattern(f"{pre} ({exc}) {post}")
    assert got == want
    assert info["excluded"] == set(re.findall(r"[A-Z]", exc.upper()))
    assert info["outside"] == set(
        re.findall(r"[A-Z]", (pre + post).upper())
    )
    # and the match sets coincide on random symbol strings
    assert [m.span() for m in re.finditer(got, s)] == [
        m.span() for m in re.finditer(want, s)
    ]
