"""Time-series SQL syntax extensions for Spark SQL — the ergonomics
gaps SURVEY §4.3 deferred, each a deliberately BOUNDED grammar
lowered onto an existing library plan (this is a syntax adapter,
not a SQL parser; anything outside a grammar raises ValueError with
the reason):

- ``ASOF [LEFT] JOIN`` (DuckDB/QuestDB/Snowflake spelling) ->
  ``operators.joins.asof_join`` (union + last-ignoreNulls window —
  ONE shuffle, no range-expansion candidate blowup);
- ``SAMPLE BY <N><s|m|h|d> [ON <ts_col>]`` (the QuestDB time-bucket
  idiom) -> an epoch-aligned bucket GROUP BY (integer epoch-second
  division, the house tz-free form), with the bucket surfaced as
  ``sample_ts`` and bare-column projections joining the grouping
  key, QuestDB-style;
- ``SELECT DISTINCT ON (<keys>) ... ORDER BY <keys>, <tiebreak>``
  (the Postgres latest-row-per-key idiom the reference's users
  write daily) -> a row_number window over the keys ordered by the
  residual ORDER BY, keeping rank 1 — Spark has no DISTINCT ON and
  the naive translation (self-join on max) reads the input twice;
- ``QUALIFY <rankfn>() OVER (PARTITION BY <keys> ORDER BY <ord>)
  <op> <N>`` (the Snowflake/DuckDB/BigQuery window-filter clause,
  the top-k-per-group idiom) -> the window function computed in a
  subquery and filtered in the outer SELECT — the rewrite users
  hand-write today because Spark SQL has no QUALIFY. ``rankfn`` is
  ``row_number``/``rank``/``dense_rank``; ``op`` is ``=``, ``<``
  or ``<=``;
- ``COLUMNS('<regex>')`` (the DuckDB star-expansion for wide
  feature tables: project every column whose NAME matches) -> the
  explicit column list resolved from the source view's schema at
  rewrite time (partial match, ``re.search``, mirroring DuckDB's
  semantics — COLUMNS('l_') matches ``xl_tax`` too; ANCHOR the
  pattern when you mean a prefix). One COLUMNS per query, single
  named table, no JOIN; DuckDB compiles the pattern with RE2 while
  this adapter uses Python ``re`` — stay inside the common syntax
  (anchors, classes, alternation) or the engines can disagree;
- ``* EXCLUDE (<cols>)`` (the DuckDB/Snowflake star-minus idiom —
  "everything but the wide payload column") -> Spark's native
  ``* EXCEPT (<cols>)`` after validating every listed column against
  the source view's schema at rewrite time (DuckDB errors on an
  unknown or duplicate EXCLUDE entry; silently passing a typo'd
  column name through would keep the payload column in the scan,
  defeating the pruning the user asked for). One ``* EXCLUDE`` per
  query, single named table, no JOIN;
- ``* REPLACE (<expr> AS <col>[, ...])`` (the DuckDB/Snowflake
  star-replace: keep every column but substitute a computed
  expression for the named ones in place) -> the explicit projection
  resolved from the source schema at rewrite time (each target
  column must exist; duplicates error — DuckDB refuses both too).
  Spark has no ``* REPLACE``; hand-writing the projection is exactly
  the 400-column chore the idiom exists to avoid. One ``* REPLACE``
  per query, single named table, no JOIN;
- ``MATCH_RECOGNIZE (PARTITION BY <key> ORDER BY <cols> [MEASURES
  ...] [ONE ROW PER MATCH] [AFTER MATCH SKIP PAST LAST ROW] PATTERN
  (<pattern>) DEFINE <S> AS <pred>, ...)`` (the SQL:2016 row-pattern
  clause, the ClickHouse-sequenceMatch / Flink-CEP niche — neither
  Spark nor DuckDB implements it) -> the library's initials-string
  plan (q_sequence_match): each row is classified into a
  one-character symbol by its DEFINE predicates (FIRST MATCHING
  DEFINE wins — a deliberate "lite" restriction: write disjoint
  predicates, as overlapping symbol sets need the full NFA
  semantics this adapter refuses to fake). DEFINE predicates may
  navigate PHYSICAL rows with ``PREV(<col>[, <k>])`` /
  ``NEXT(<col>[, <k>])`` (plain column, literal offset, default 1):
  SQL:2016's PREV/NEXT navigate the ordered input partition
  irrespective of symbol assignment, so each distinct navigation is
  exactly ONE lag/lead window column computed BEFORE classification
  — symbols stay row-local and the lowering is unchanged (the
  canonical V-shape ``DOWN AS price < PREV(price)`` works);
  match-relative navigation (FIRST/LAST inside DEFINE) stays out of
  grammar, and a partition's first/last rows see NULL (predicate
  not TRUE -> unclassified, the spec's behavior). The per-partition
  rows
  concatenate into an ordered symbol string (TOTAL order from the
  ORDER BY columns, ENFORCED — ties within a partition raise at
  execution rather than silently returning order-dependent counts),
  unclassified rows become ``-`` (a match-breaking filler,
  preserving MATCH_RECOGNIZE's contiguous-rows semantics), and
  PATTERN is PARSED (not passed through) into symbol/group terms
  with at most one quantifier each — ``* + ?`` plus bounds ``{n}
  {n,} {n,m}`` (n <= m <= 64), grouping and ``|`` — and re-emitted
  as a canonical regex (adjacent quantifiers like the
  Java-possessive ``*+`` are refused: engine-divergent).
  The SQL:2016 partition anchors are accepted at the pattern
  boundaries — ``^`` as the very first element (the match must
  start at the partition's FIRST row) and ``$`` as the very last
  (must end at its LAST row): the symbol string is the whole
  ordered partition, so they lower to the regex string anchors
  verbatim (no newline can occur in the alphabet, so Java's
  before-final-terminator ``$`` nuance cannot bite, and both
  engines agree). Interior/per-branch anchors are refused; an
  anchor over a TOP-LEVEL alternation is refused too (SQL:2016
  scopes it to one branch, the boundary grammar to the whole
  pattern — two legal readings with different results; group it:
  ``^ (V | P)`` means whole-pattern under both), and
  anchors combine only with ``SKIP PAST LAST ROW`` (an anchored
  pattern pins the match to a boundary; the overlapping/skip-to
  scans have nothing to enumerate — and their per-position probes
  prepend their own ``^``, which would silently neutralize a
  partition anchor).
  ``PERMUTE(A, B[, ...])`` (the SQL:2016 any-order construct) is
  expanded at parse time into the alternation of all permutations
  in lexicographic order of the listed elements — the standard's
  defined expansion — capped at 4 elements (24 branches; beyond
  that the construct is a combinatorial scan, not a row pattern);
  elements must be plain symbols (no groups/quantifiers/nesting
  inside PERMUTE) and the expansion group takes at most one outer
  quantifier like any other group. Without
  MEASURES the output per partition key is the key, ``seq_len``,
  ``n_matches``, ``matched`` (0/1). With MEASURES the output is one
  row PER MATCH (``ONE ROW PER MATCH``) or per MATCHED INPUT ROW
  (``ALL ROWS PER MATCH``), the key plus each measure from the
  bounded menu ``MATCH_NUMBER()`` / ``COUNT(*)`` / ``FIRST(<col>)``
  / ``LAST(<col>)`` / ``CLASSIFIER()`` (the row's one-letter
  symbol) / the PER-SYMBOL forms ``FIRST(<S>.<col>)`` /
  ``LAST(<S>.<col>)`` / ``COUNT(<S>.*)`` / (where ``<S>`` is a
  primary DEFINE symbol or a ``SUBSET`` union symbol) /
  ``SUM/MIN/MAX/AVG(<S>.<col>)`` (NULL / 0-count when symbol
  ``<S>`` does not participate in the match — the SQL:2016
  no-rows contract; SUM folds the symbol's in-scope NON-NULL
  values left-to-right, with sub-BIGINT integral columns PROMOTED
  to BIGINT at the fold init — SQL SUM/AVG promote integral
  inputs, and a type-preserving INT fold would overflow where
  every engine returns the BIGINT sum — while BIGINT/DOUBLE/
  DECIMAL keep their own type; AVG divides the
  double-cast sum by the non-null count — SQL aggregates skip
  NULL inputs, so an all-NULL scope yields NULL like an empty
  one, while COUNT(<S>.*) still counts ROWS). Per-symbol attribution is EXACT in this lowering, not
  faked: the regex consumed character p of the symbol string AS the
  symbol written there (first-matching DEFINE, decided row-locally
  before the match scan), so "the rows matched as S" are precisely
  the S-positions inside the match span — recovered as one
  ``filter(sequence(...))`` over the match's positions, bound ONCE
  per referenced symbol (the round-11 let-binding rule: sibling
  measures share the array instead of re-deriving it). Under ONE
  ROW the aggregates are FINAL (COUNT(*) = rows in match,
  LAST/CLASSIFIER read the match's last row, per-symbol FIRST/LAST
  read the first/last S-row of the whole match); under ALL ROWS
  they are RUNNING — the SQL:2016 defaults for each mode — so
  ``COUNT(*)`` is the row's 1-based position in its match,
  ``LAST(<col>)``/``CLASSIFIER()`` read the CURRENT row (which is
  how a per-row column is projected out), and per-symbol forms see
  only S-rows AT OR BEFORE the current row (NULL until the first S
  arrives). The explicit ``RUNNING``/``FINAL`` keywords are
  accepted per measure: under ALL ROWS, ``FINAL`` switches that
  measure to the WHOLE-match scope (FINAL COUNT(*) = the match
  length on every emitted row, FINAL LAST/CLASSIFIER read the
  match's last row, per-symbol FINAL forms see every S-row of the
  match) while its RUNNING siblings keep the per-row scope — each
  (symbol, scope) pair binds its own position array; under ONE ROW
  the evaluation row is the match's last row, where the standard
  itself makes RUNNING and FINAL coincide, so both keywords are
  accepted and change nothing. ``RUNNING``/``FINAL`` before
  ``MATCH_NUMBER()`` is refused (scope-free, per the standard).
  ``WITH UNMATCHED ROWS``
  is not supported — a REASONED refusal, not a gap: SQL:2016 makes
  every measure NULL on an unmatched row, and this adapter's output
  is the key plus measures only (no source-column passthrough), so
  an unmatched row would emit as ``(key, NULL, NULL, ...)`` —
  contentless; the anti-join against the matched read-out gives the
  unmatched rows WITH their columns in one extra line of SQL.
  Unmatched rows are omitted.
  The SQL:2016 exclusion ``{- <rpr> -}`` is supported when its
  symbols appear ONLY inside exclusion regions: the region MATCHES
  normally (extents, MEASURES — including RUNNING values on later
  emitted rows — and skip arithmetic all see its rows; ONE ROW PER
  MATCH output is untouched, the standard's rule) but its rows are
  omitted from the ALL ROWS PER MATCH output, via one filter on
  the fan-out keyed by the row's classifier symbol — which is
  exactly region membership under the disjointness restriction
  (a symbol both inside and outside a region would need
  per-position regex-capture attribution; refused). Regions cannot
  nest or take quantifiers (the standard's grammar).
  Universal (un-prefixed) aggregates ``SUM/MIN/MAX/AVG(<col>)``
  range over ALL rows of the scope (SQL:2016's universal
  row-pattern variable), ``COUNT(<col>)`` counts its NON-NULL
  values (vs ``COUNT(*)``'s row count) — same NULL-skipping fold
  and (column, scope) let-binding as the per-symbol family. FIRST
  and LAST take the standard's logical offset — ``FIRST(<col>,
  k)`` reads the (k+1)-th scope row, ``LAST(<col>, k)`` the
  (k+1)-th from its end, ``FIRST/LAST(<S>.<col>, k)`` the same
  over the symbol's rows; out-of-range offsets are NULL, exactly
  the standard's contract. Skip modes:
  ``AFTER MATCH SKIP PAST LAST ROW`` (the SQL:2016 default — the
  non-overlapping left-to-right scan, positions recovered from the
  gaps/matches decomposition: match i starts after the first i gaps
  and i-1 matches), ``AFTER MATCH SKIP TO NEXT ROW``
  (OVERLAPPING matches, one per starting row — lowered as one
  anchored ``^pattern`` probe per position, NOT a lookahead regex:
  RE2/DuckDB refuses ``(?=``; costs O(len) probes per partition
  string, so window long-lived entities first at scale) and
  ``AFTER MATCH SKIP TO [FIRST|LAST] <symbol>`` (resume the scan
  AT the first/last row matched as ``<symbol>`` — inclusive, so a
  boundary row can start the next match and matches chain; bare
  ``TO <symbol>`` is the standard's shorthand for LAST). The
  resume point of SKIP TO depends on the previous match's symbol
  layout, so the enumeration is a sequential left fold
  (``aggregate``) over the positions rather than independent
  probes — same O(len^2) worst case as TO NEXT ROW — and
  SQL:2016's OWN runtime errors are raised at execution, not
  guessed away: a match in which ``<symbol>`` did not participate
  errors, and a resume target equal to the match's first row (the
  infinite-loop case) errors; a skip symbol absent from PATTERN
  altogether is refused statically.
  ``SUBSET U = (A, B)[, ...]`` (SQL:2016 union variables, between
  PATTERN and DEFINE) declares ``U`` as the union of the listed
  PRIMARY symbols, usable wherever a per-symbol reference is:
  per-symbol MEASURES and the SKIP TO target. In this lowering a
  union symbol is exactly a character CLASS over the symbol string
  (its position array filters on set membership instead of letter
  equality) — the read-out, NULL contract and skip arithmetic are
  unchanged. Union names must be distinct from DEFINE symbols,
  members must appear in PATTERN, and both duplicate members and
  duplicate union names are refused (as in the standard).
  One MATCH_RECOGNIZE per query, single named table, no JOIN/WHERE
  (pass the filtered frame: ``sql(spark, "... FROM {t} ...",
  t=df)``); optional trailing ORDER BY.
  Patterns that can match an EMPTY sequence (every term ``*``/``?``
  or ``{0,m}`` quantified) are refused: zero-width regex matches
  are counted engine-divergently (Java find loop vs RE2 global
  scan) and an empty row pattern is meaningless as a sequence
  match.

Supported grammar (one ASOF join per query)::

    SELECT <projections>
    FROM <left_table> <la> ASOF [LEFT] JOIN <right_table> <ra>
      ON <la>.<key> = <ra>.<key> AND <la>.<lts> {>=|<=} <ra>.<rts>
    [<trailing clauses>]

- ``left_table`` / ``right_table`` must be resolvable via
  ``spark.table`` (tables, views, or frames bound as ``{name}``
  placeholders; CTEs are NOT supported — bind the CTE body as a
  frame instead, the error says so).
- Both aliases are required, the equality must come first, and the
  time bound must lead with the left alias; its DIRECTION is the
  as-of direction (DuckDB convention): ``left >= right`` attaches
  the most recent right row (backward), ``left <= right`` the NEXT
  one (forward), both inclusive at equality. Anything outside the
  grammar raises ``ValueError`` with the reason — this is a syntax
  adapter, not a SQL parser, and it refuses rather than guesses.

Lowering: the two sides are joined with :func:`asof_join` (all
non-key/non-ts right columns become right_values; the right
timestamp surfaces as ``asof_ts``), the result is bound through the
call's SQL formatter, the ASOF clause is replaced by its view, and the
alias qualifiers are rewritten (``la.x`` -> ``x``; ``ra.rts`` ->
``asof_ts``) so the surrounding SELECT works unchanged. Output
column names therefore match the library function exactly, which is
what keeps q_asof_sql value-checkable against DuckDB's native
``ASOF LEFT JOIN``.
"""

from __future__ import annotations

import re
import uuid
from itertools import permutations as _permutations
from math import factorial as _factorial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.sql_formatter import SQLStringFormatter

from streamz_postgres_spark.operators.joins import asof_join

_ASOF_RE = re.compile(
    r"""FROM\s+(?P<lt>\w+)\s+(?P<la>\w+)\s+
        ASOF\s+(?P<left>LEFT\s+)?JOIN\s+(?P<rt>\w+)\s+(?P<ra>\w+)\s+
        ON\s+(?P<ka>\w+)\.(?P<lk>\w+)\s*=\s*(?P<kb>\w+)\.(?P<rk>\w+)\s+
        AND\s+(?P<ta>\w+)\.(?P<lts>\w+)\s*(?P<op>>=|<=)\s*
        (?P<tb>\w+)\.(?P<rts>\w+)""",
    re.IGNORECASE | re.VERBOSE,
)

_SAMPLE_RE = re.compile(
    r"""^\s*SELECT\s+(?P<proj>.+?)\s+
        FROM\s+(?P<t>\w+)
        (?:\s+WHERE\s+(?P<where>.+?))?\s+
        SAMPLE\s+BY\s+(?P<n>\d+)(?P<u>[smhd])
        (?:\s+ON\s+(?P<col>\w+))?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_UNIT_SEC = {"s": 1, "m": 60, "h": 3600, "d": 86400}

_DISTINCT_ON_RE = re.compile(
    r"""^\s*SELECT\s+DISTINCT\s+ON\s*\((?P<keys>[\w\s,]+)\)\s*
        (?P<proj>.+?)\s+
        FROM\s+(?P<t>\w+)
        (?:\s+WHERE\s+(?P<where>.+?))?\s+
        ORDER\s+BY\s+(?P<order>.+?)\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


_QUALIFY_RE = re.compile(
    r"""^\s*SELECT\s+(?P<proj>.+?)\s+
        FROM\s+(?P<t>\w+)
        (?:\s+WHERE\s+(?P<where>.+?))?\s+
        QUALIFY\s+(?P<fn>row_number|rank|dense_rank)\s*\(\s*\)\s+
        OVER\s*\(\s*PARTITION\s+BY\s+(?P<part>[\w\s,]+?)\s+
        ORDER\s+BY\s+(?P<order>.+?)\s*\)\s*
        (?P<op><=|<|=)\s*(?P<n>\d+)\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


_COLUMNS_RE = re.compile(r"COLUMNS\(\s*'(?P<pat>[^']*)'\s*\)", re.IGNORECASE)


_EXCLUDE_RE = re.compile(
    r"\*\s*EXCLUDE\s*\(\s*(?P<cols>[\w\s,]+?)\s*\)", re.IGNORECASE
)


_PATTERN_RE = re.compile(
    r"""^\s*SELECT\s+(?P<proj>.+?)\s+
        FROM\s+(?P<t>\w+)\s+
        MATCH_RECOGNIZE\s*\(\s*
        PARTITION\s+BY\s+(?P<part>\w+)\s+
        ORDER\s+BY\s+(?P<order>[\w\s,]+?)\s+
        (?:MEASURES\s+(?P<meas>.+?)\s+)??
        (?P<rpm>(?:ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+)?
        (?:AFTER\s+MATCH\s+SKIP\s+(?P<skip>\w+(?:\s+\w+)*?)\s+)?
        PATTERN\s*\(\s*(?P<pat>[A-Za-z0-9\s*+?|(){},^$\-]+?)\s*\)\s+
        (?:SUBSET\s+(?P<subset>[A-Za-z\s=,()]+?)\s+)?
        DEFINE\s+(?P<defs>.+?)\s*\)\s*
        (?:ORDER\s+BY\s+(?P<outorder>[\w\s,]+?(?:\s+(?:ASC|DESC))?)\s*)?$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_DEFINE_ITEM_RE = re.compile(
    r"^\s*(?P<sym>[A-Za-z])\s+AS\s+(?P<pred>.+)$",
    re.IGNORECASE | re.DOTALL,
)

#: PREV/NEXT physical-row navigation inside DEFINE predicates:
#: PREV(<col>[, <k>]) / NEXT(<col>[, <k>]) with a plain column name
#: and a literal non-negative offset (default 1)
_NAV_RE = re.compile(
    r"\b(?P<fn>PREV|NEXT)\s*\(\s*(?P<col>\w+)\s*"
    r"(?:,\s*(?P<k>\d+)\s*)?\)",
    re.IGNORECASE,
)

#: bounded-quantifier ceiling: far above any sane row pattern, far
#: below RE2's 1000-repetition hard limit (DuckDB's engine)
_MR_BOUND_CAP = 64

_MEASURE_RES = (
    (
        "match_number",
        re.compile(
            r"^MATCH_NUMBER\s*\(\s*\)\s+AS\s+(?P<name>\w+)$", re.IGNORECASE
        ),
    ),
    (
        "count",
        re.compile(
            r"^COUNT\s*\(\s*\*\s*\)\s+AS\s+(?P<name>\w+)$", re.IGNORECASE
        ),
    ),
    # per-symbol forms must precede the bare-column ones so the menu
    # error message never misattributes a dotted item (the bare
    # regexes cannot match a dot, but first-match order documents
    # the intent)
    (
        "sym_count",
        re.compile(
            r"^COUNT\s*\(\s*(?P<sym>[A-Za-z])\s*\.\s*\*\s*\)\s+AS\s+"
            r"(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "sym_agg",
        re.compile(
            r"^(?P<agg>SUM|MIN|MAX|AVG)\s*\(\s*(?P<sym>[A-Za-z])\s*"
            r"\.\s*(?P<col>\w+)\s*\)\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    # universal (un-prefixed) aggregates — SQL:2016 treats a bare
    # aggregate in MEASURES as ranging over ALL rows of the match
    # (the universal row-pattern variable); COUNT(<col>) counts
    # NON-NULL values, completing the COUNT menu
    (
        "uni_agg",
        re.compile(
            r"^(?P<agg>SUM|MIN|MAX|AVG)\s*\(\s*(?P<col>\w+)\s*\)"
            r"\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "uni_count",
        re.compile(
            r"^COUNT\s*\(\s*(?P<col>\w+)\s*\)\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "sym_first",
        re.compile(
            r"^FIRST\s*\(\s*(?P<sym>[A-Za-z])\s*\.\s*(?P<col>\w+)\s*"
            r"(?:,\s*(?P<k>\d+)\s*)?\)"
            r"\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "sym_last",
        re.compile(
            r"^LAST\s*\(\s*(?P<sym>[A-Za-z])\s*\.\s*(?P<col>\w+)\s*"
            r"(?:,\s*(?P<k>\d+)\s*)?\)"
            r"\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "first",
        re.compile(
            r"^FIRST\s*\(\s*(?P<col>\w+)\s*"
            r"(?:,\s*(?P<k>\d+)\s*)?\)\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "last",
        re.compile(
            r"^LAST\s*\(\s*(?P<col>\w+)\s*"
            r"(?:,\s*(?P<k>\d+)\s*)?\)\s+AS\s+(?P<name>\w+)$",
            re.IGNORECASE,
        ),
    ),
    (
        "classifier",
        re.compile(
            r"^CLASSIFIER\s*\(\s*\)\s+AS\s+(?P<name>\w+)$", re.IGNORECASE
        ),
    ),
)


def _parse_pattern(raw: str, excl_info: dict | None = None) -> str:
    """Parse PATTERN into (symbol | group)(quantifier?) terms with
    explicit grouping/alternation and rebuild the regex CANONICALLY —
    the r9 advisor's find: passing the raw string through admits
    constructs the three engines treat differently (possessive
    ``V*+`` compiles on Python>=3.11 and runs possessively in Java
    but is a hard error in RE2). The grammar:

        pattern := seq ('|' seq)*
        seq     := term+
        term    := (SYMBOL | '(' pattern ')' | permute) quant?
        permute := 'PERMUTE' '(' SYMBOL (',' SYMBOL)* ')'
        quant   := '*' | '+' | '?' | '{n}' | '{n,}' | '{n,m}'

    ``PERMUTE(A,B,...)`` is the SQL:2016 any-order construct,
    expanded HERE (parse time) into the alternation of all
    permutations in lexicographic order of the listed elements —
    the expansion the standard defines — so the emitted regex stays
    inside the engine-common alphabet. Elements are plain distinct
    symbols only (a group/quantifier/nested PERMUTE inside would
    square the expansion) and the list is capped at 4 (24 branches).
    The keyword is detected on the RAW text BEFORE whitespace
    stripping (r11 advisor): SQL tokenization makes the CONTIGUOUS
    identifier ``PERMUTE`` followed by ``(`` the reserved word, but
    seven whitespace-separated single-letter symbols ``P E R M U T
    E (A)`` are a standard-legal symbol run that must NOT collapse
    into the keyword — the raw-text rewrite (contiguous keyword ->
    a ``~`` sentinel outside the grammar's alphabet) keeps the two
    apart, so the separated form parses as the seven symbols it is
    (and then fails the undefined-symbol check unless each is
    DEFINEd, instead of silently matching as PERMUTE).

    Adjacent quantifiers (two of ``* + ? {`` in a row) are refused —
    each symbol/group takes at most ONE quantifier. Bounds are
    integers with n <= m <= 64 (RE2 caps repetition at 1000; the cap
    keeps expansion sane on both engines). Patterns that can match
    an EMPTY sequence are refused via a nullability computation on
    the parse (zero-width match counting is engine-divergent).
    Returns the canonical regex string — safe to embed in a
    single-quoted SQL literal on both engines (alphabet is
    ``A-Z 0-9 * + ? | ( ) { } ,``)."""
    # keyword detection happens on the RAW text: only a CONTIGUOUS
    # 'PERMUTE' letter run followed by '(' is the reserved word;
    # whitespace-separated letters that would spell PERMUTE after
    # stripping stay the seven symbols they are (r11 advisor). A
    # symbol letter immediately before the contiguous keyword —
    # 'VPERMUTE(A,B)' — reads as V then PERMUTE(...), consistent
    # with this grammar's whitespace-free symbol runs ('VC*P').
    # '~' is outside _PATTERN_RE's alphabet, so it cannot occur in
    # SQL-path input and is unambiguous as the keyword sentinel.
    s = re.sub(
        r"PERMUTE(?=\s*\()", "~", raw,
        flags=re.IGNORECASE,
    )
    s = re.sub(r"\s+", "", s).upper()
    if not s:
        raise ValueError("PATTERN () is empty")
    # SQL:2016 partition anchors: '^' matches the position before
    # the partition's FIRST row, '$' after its LAST — and since the
    # symbol string IS the whole ordered partition, they lower to
    # the regex string anchors verbatim (the strings contain no
    # newline, so Java's before-final-terminator '$' nuance cannot
    # bite). Accepted ONLY at the very start/end of the whole
    # pattern — that is where the standard's grammar puts them, and
    # an interior anchor inside the gaps/matches decomposition would
    # need per-branch position reasoning this adapter refuses.
    anchor_start = s.startswith("^")
    anchor_end = s.endswith("$")
    core = s[1 if anchor_start else 0 : len(s) - (1 if anchor_end else 0)]
    if "^" in core or "$" in core:
        raise ValueError(
            "PATTERN anchors are supported only at the pattern "
            "boundaries — '^' as the very first element (match must "
            "start at the partition's first row) and '$' as the "
            "very last (match must end at its last row); interior "
            "or per-branch anchors are not lowered"
        )
    if not core:
        raise ValueError(
            "PATTERN contains only anchors — require at least one "
            "symbol"
        )
    s = core
    pos = 0
    # exclusion-region bookkeeping (see the {- branch): excl_syms
    # collects symbols INSIDE {- -} regions, out_syms those outside;
    # the caller's disjointness check compares them
    in_excl = [0]
    excl_syms: set = set()
    out_syms: set = set()

    def peek() -> str:
        return s[pos] if pos < len(s) else ""

    def parse_quant(base_nullable: bool) -> tuple:
        nonlocal pos
        ch = peek()
        # refusal below (r12, found by the overlap property test):
        # REPEATING a base that can itself match EMPTY — (E*)*,
        # ((E*)|(P))+, (A?){2} — is where the three engines
        # genuinely diverge: Java/Python stop a loop iteration that
        # matched empty, while RE2's NFA continues into
        # lower-priority NON-empty branches of the same iteration
        # (probed: '^(C((E*)|(P))*)' extracts 'CE' in Python/Java
        # and 'CEP' in RE2/DuckDB). '?' and {1}/{0,1} never repeat,
        # so they stay legal on a nullable base.
        repeats = False
        if ch == "*":
            pos += 1
            q, nullable, repeats = "*", True, True
        elif ch == "+":
            pos += 1
            q, nullable, repeats = "+", base_nullable, True
        elif ch == "?":
            pos += 1
            q, nullable = "?", True
        elif ch == "{" and not s.startswith("{-", pos):
            bm = re.match(r"\{(\d+)(,(\d*))?\}", s[pos:])
            if bm is None:
                raise ValueError(
                    "PATTERN quantifier bound is malformed at "
                    f"...{s[pos:pos + 8]!r} — use {{n}}, {{n,}} or "
                    "{n,m} with integer bounds"
                )
            lo = int(bm.group(1))
            hi = int(bm.group(3)) if bm.group(3) else None
            if bm.group(2) is None:
                hi = lo
                q = f"{{{lo}}}"
            elif hi is None:
                q = f"{{{lo},}}"
            else:
                q = f"{{{lo},{hi}}}"
            if hi is not None and hi < lo:
                raise ValueError(
                    f"PATTERN bound {{{lo},{hi}}} has max < min"
                )
            if max(lo, hi or 0) > _MR_BOUND_CAP:
                raise ValueError(
                    f"PATTERN bound exceeds the cap of {_MR_BOUND_CAP} "
                    "repetitions (RE2/DuckDB hard-caps repetition; "
                    "bounded patterns beyond this are a sequence-scan, "
                    "not a row pattern)"
                )
            pos += bm.end()
            nullable = base_nullable or lo == 0
            repeats = hi is None or hi > 1
        else:
            return "", base_nullable
        if base_nullable and repeats:
            raise ValueError(
                "PATTERN repeats a group that can itself match an "
                "EMPTY sequence (every element * or ? quantified or "
                "{0,..} bounded) — empty loop iterations are where "
                "the engines diverge (Java/Python stop the loop, "
                "RE2/DuckDB continues into non-empty branches of "
                "the same iteration); make the group body mandatory "
                "or drop the outer quantifier ('?', {1} and {0,1} "
                "remain legal — they never repeat)"
            )
        if peek() and (
            peek() in "*+?"
            or (peek() == "{" and not s.startswith("{-", pos))
        ):
            raise ValueError(
                "PATTERN has adjacent quantifiers "
                f"(...{s[max(0, pos - 2):pos + 1]!r}) — possessive/"
                "reluctant forms are engine-divergent (Java accepts "
                "'*+', RE2 errors); quantify each symbol or group at "
                "most once"
            )
        return q, nullable

    def parse_seq() -> tuple:
        nonlocal pos
        parts: list = []
        nullable = True
        while peek() not in ("", "|", ")") and not s.startswith(
            "-}", pos
        ):
            ch = peek()
            if s.startswith("{-", pos):
                # SQL:2016 exclusion {- rpr -}: the region MATCHES
                # normally (it is emitted as a plain group — match
                # extents, measures and skip arithmetic are
                # untouched) but its rows are omitted from ALL ROWS
                # PER MATCH output; the caller receives the region's
                # symbols via excluded_out and applies the output
                # filter (with the disjointness check that makes
                # symbol-membership equal region-membership).
                if in_excl[0]:
                    raise ValueError(
                        "PATTERN exclusion regions cannot nest"
                    )
                pos += 2
                in_excl[0] += 1
                inner_re, t_null = parse_alt()
                in_excl[0] -= 1
                if not s.startswith("-}", pos):
                    raise ValueError(
                        "PATTERN exclusion {- ... -} is missing its "
                        "closing '-}'"
                    )
                pos += 2
                if peek() and (
                    peek() in "*+?"
                    or (peek() == "{" and not s.startswith("{-", pos))
                ):
                    raise ValueError(
                        "a PATTERN exclusion region cannot be "
                        "quantified — quantify the elements inside "
                        "it instead (the standard's grammar makes "
                        "exclusion a primary without a quantifier)"
                    )
                excl_syms.update(re.findall(r"[A-Z]", inner_re))
                parts.append(f"({inner_re})")
                nullable = nullable and t_null
                continue
            if ch == "-":
                raise ValueError(
                    "unexpected character '-' in PATTERN ('-}' "
                    "closes an exclusion region that was never "
                    "opened with '{-')"
                )
            if ch == "(":
                pos += 1
                inner_re, inner_null = parse_alt()
                if peek() != ")":
                    raise ValueError("PATTERN has an unclosed group")
                pos += 1
                q, t_null = parse_quant(inner_null)
                parts.append(f"({inner_re}){q}")
            elif ch == "~":
                if not s.startswith("~(", pos):  # pragma: no cover
                    # unreachable from SQL input (the sentinel only
                    # comes from the keyword rewrite above, which
                    # guarantees a following '('); guards direct
                    # _parse_pattern calls with a literal '~'
                    raise ValueError(
                        "unexpected character '~' in PATTERN"
                    )
                pos += 2
                elems: list = []
                while True:
                    e = peek()
                    if not e.isalpha() or s.startswith("~(", pos):
                        raise ValueError(
                            "PERMUTE takes a comma-separated list of "
                            "plain symbols — groups, quantifiers and "
                            "nested PERMUTE are not supported inside "
                            "it (the expansion would be combinatorial"
                            " on top of combinatorial)"
                        )
                    pos += 1
                    if peek().isalpha():
                        raise ValueError(
                            "PERMUTE elements are SINGLE-letter "
                            "symbols (same restriction as DEFINE); "
                            f"got a multi-letter run at ...{e}{peek()}"
                        )
                    if e in elems:
                        raise ValueError(
                            f"PERMUTE lists symbol {e} twice — "
                            "permutations of a multiset collapse to "
                            "duplicate branches; repeat a symbol with "
                            "a bound ({2}) outside PERMUTE instead"
                        )
                    elems.append(e)
                    if peek() == ",":
                        pos += 1
                        continue
                    break
                if peek() != ")":
                    raise ValueError(
                        "PERMUTE(...) is missing its closing ')' — "
                        "elements are single symbols separated by "
                        "commas"
                    )
                pos += 1
                if len(elems) > 4:
                    raise ValueError(
                        f"PERMUTE of {len(elems)} symbols expands to "
                        f"{_factorial(len(elems))} alternation "
                        "branches — capped at 4 (24 branches); beyond"
                        " that the construct is a combinatorial scan,"
                        " not a row pattern"
                    )
                if not in_excl[0]:
                    out_syms.update(elems)
                perm_re = "|".join(
                    "".join(p) for p in _permutations(elems)
                )
                q, t_null = parse_quant(False)
                parts.append(f"({perm_re}){q}")
            elif ch.isalpha():
                pos += 1
                if not in_excl[0]:
                    out_syms.add(ch)
                q, t_null = parse_quant(False)
                parts.append(ch + q)
            else:
                raise ValueError(
                    f"unexpected character {ch!r} in PATTERN"
                )
            nullable = nullable and t_null
        if not parts:
            raise ValueError(
                "PATTERN has an empty branch (a '|' with nothing on "
                "one side, or an empty group)"
            )
        return "".join(parts), nullable

    def parse_alt() -> tuple:
        nonlocal pos
        branches = [parse_seq()]
        while peek() == "|":
            pos += 1
            branches.append(parse_seq())
        return (
            "|".join(b[0] for b in branches),
            any(b[1] for b in branches),
        )

    regex, nullable = parse_alt()
    if pos != len(s):
        raise ValueError(
            f"PATTERN has an unmatched ')' or '-}}' at position {pos}"
        )
    if nullable:
        # zero-width matches are where regex engines disagree (Java's
        # find loop vs RE2's global scan count empty matches at
        # different positions), and an empty row-pattern is
        # meaningless as a sequence match — refuse rather than let
        # the two engines drift
        raise ValueError(
            "PATTERN can match an EMPTY row sequence (every term is "
            "* or ? quantified or {0,...} bounded) — require at "
            "least one mandatory symbol"
        )
    # the anchors re-enter the CANONICAL regex here (zero-width, so
    # they contribute nothing to nullability or symbol extraction);
    # _lower_pattern detects them by position — '^'/'$' cannot occur
    # anywhere else in the emitted alphabet. An anchor over a
    # TOP-LEVEL alternation is REFUSED rather than guessed at (r12
    # reviewer): SQL:2016 makes the anchor part of ONE branch
    # ('^V | P' = V-at-start OR P-anywhere) while the adapter's
    # boundary grammar reads it as whole-pattern — two legal
    # interpretations with different results, so the user must
    # group: '^ (V | P)' is whole-pattern under BOTH readings, and
    # a per-branch anchor is an interior anchor, already refused.
    # The grouped core is parenthesized on emission, which is
    # semantically inert without a top-level '|'.
    if anchor_start or anchor_end:
        depth = 0
        for c in regex:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "|" and depth == 0:
                raise ValueError(
                    "PATTERN anchors over a top-level alternation "
                    "are ambiguous — SQL:2016 scopes the anchor to "
                    "ONE branch ('^V | P' is V-at-start OR "
                    "P-anywhere) while a whole-pattern reading "
                    "anchors them all; write '^ (V | P)' — grouped, "
                    "whole-pattern under both readings"
                )
        regex = (
            ("^" if anchor_start else "")
            + "("
            + regex
            + ")"
            + ("$" if anchor_end else "")
        )
    if excl_info is not None:
        excl_info["excluded"] = excl_syms
        excl_info["outside"] = out_syms
    # canonical-regex sanity check (should be unreachable: the
    # alphabet above is common to Python/Java/RE2)
    try:
        re.compile(regex)
    except re.error as e:  # pragma: no cover
        raise ValueError(f"PATTERN does not compile as a regex: {e}")
    return regex


def _mr_partition_subquery(
    part: str,
    order_cols: list,
    sym_case: str,
    table: str,
    extra_fields: list,
    nav_guard_cols: list | None = None,
) -> str:
    """The shared per-partition inner query: sorted struct array
    (total order asserted — ties raise), symbol string. extra_fields
    is [(field_alias, source_col), ...] carried through the struct
    for MEASURES read-out. nav_guard_cols (PREV/NEXT lowering only)
    lists every input column the statement consumes — DEFINE
    references and navigation sources — appended as guard-only
    struct fields so the tie guard can compare INPUTS where the
    derived symbol char is position-dependent (see guard note)."""
    ord_fields = ", ".join(
        f"{c} AS __o{i}" for i, c in enumerate(order_cols)
    )
    extra = "".join(f", {col} AS {fld}" for fld, col in extra_fields)
    guard_struct = "".join(
        f", {c} AS __g{i}" for i, c in enumerate(nav_guard_cols or [])
    )
    tie_eq = " AND ".join(
        f"x.__o{i} <=> y.__o{i}" for i in range(len(order_cols))
    )
    # the documented 'supply a tiebreak' contract, ENFORCED (r9
    # advisor): ties in the ORDER BY key make the symbol string —
    # and so every match count/measure — order-dependent; the
    # adapter refuses other silently-divergent cases, so it refuses
    # this one too. Refined for the v7 duplicate class: a tie
    # between rows that are IDENTICAL on everything the statement
    # consumes is deterministic — equal inputs are interchangeable,
    # so the sorted array VALUE (and every match/measure derived
    # from it) is unique regardless of which copy "comes first";
    # full-row duplicates are routine in re-crawled event logs.
    # Row-local path: the struct IS the consumed set (order fields,
    # symbol char, MEASURES sources), so compare the whole struct.
    # PREV/NEXT path: the char is position-DERIVED (lag attribution
    # between identical copies is arbitrary, though the value
    # sequence — and thus the final sorted array — stays unique), so
    # compare the INPUT fields instead: order cols + every
    # DEFINE-referenced column + nav sources + MEASURES sources,
    # passed in as guard-only struct fields. One O(n) adjacent scan
    # on the already-sorted array; the assert lives in a WHERE so
    # column pruning cannot drop it.
    if nav_guard_cols is None:
        differ = "NOT (x <=> y)"
    else:
        fields = [f"__o{i}" for i in range(len(order_cols))]
        fields += [fld for fld, _ in extra_fields]
        fields += [f"__g{i}" for i in range(len(nav_guard_cols))]
        differ = "NOT ({})".format(
            " AND ".join(f"x.{f} <=> y.{f}" for f in fields)
        )
    guard = (
        "assert_true(NOT exists(zip_with("
        "slice(__arr, 1, size(__arr) - 1), "
        "slice(__arr, 2, size(__arr) - 1), "
        f"(x, y) -> {tie_eq} AND {differ}), b -> b), "
        "'MATCH_RECOGNIZE ORDER BY ties within a partition make "
        "match results nondeterministic — add a tiebreak column') "
        "IS NULL"
    )
    return (
        f"SELECT {part}, __arr, "
        "array_join(transform(__arr, t -> t.__ch), '') AS __s "
        f"FROM (SELECT {part}, array_sort(collect_list(struct("
        f"{ord_fields}, {sym_case} AS __ch{extra}{guard_struct}))) AS __arr "
        f"FROM {table} GROUP BY {part}) WHERE {guard}"
    )


def _max_match_len(regex: str) -> int | None:
    """Maximum number of characters an anchored match of the
    canonical PATTERN regex (_parse_pattern's output — alphabet
    ``A-Z 0-9 * + ? | ( ) { } ,``, balanced groups, one quantifier
    per term, no lookaround) can consume; None when unbounded
    (``*``, ``+``, ``{n,}``).

    r14 (guide §1.2/§2.3 — per-task work): the overlapping and
    skip-to scans probe ``regexp_extract(substr(__s, p), '^(re)')``
    at EVERY position p, and ``substr(__s, p)`` COPIES the whole
    remaining suffix — O(len²) bytes per partition string. A regex
    with no lookaround and only bounded quantifiers can never
    examine a character past the longest possible match, so
    truncating the haystack to ``substr(__s, p, maxlen)`` is exactly
    equivalent (same match, same extraction, byte-identical results)
    while copying O(len · maxlen). Unbounded patterns keep the full
    suffix."""
    pos = 0

    def peek() -> str:
        return regex[pos] if pos < len(regex) else ""

    def parse_alt():
        nonlocal pos
        best = parse_seq()
        while peek() == "|":
            pos += 1
            b = parse_seq()
            best = None if (best is None or b is None) else max(best, b)
        return best

    def parse_seq():
        nonlocal pos
        total: int | None = 0
        while peek() not in ("", "|", ")"):
            t = parse_term()
            if t is None or total is None:
                total = None
            else:
                total += t
        return total

    def parse_term():
        nonlocal pos
        if peek() == "(":
            pos += 1
            base = parse_alt()
            pos += 1  # ')' — balanced by the canonical emitter
        else:
            base = 1  # a single symbol letter
            pos += 1
        ch = peek()
        # `"" in "*+"` is True — the parser-wide truthiness gotcha
        # (see the r12 peek() note): guard ch before membership
        if ch and ch in "*+":
            pos += 1
            return None
        if ch == "?":
            pos += 1
            return base
        if ch == "{":
            bm = re.match(r"\{(\d+)(,(\d*))?\}", regex[pos:])
            pos += bm.end()
            if bm.group(2) is not None and not bm.group(3):
                return None  # {n,} — unbounded
            hi = int(bm.group(3)) if bm.group(3) else int(bm.group(1))
            return None if base is None else base * hi
        return base

    return parse_alt()


def _probe_hay(regex: str) -> str:
    """The per-position probe haystack: the suffix truncated to the
    pattern's maximum match length when finite (see
    :func:`_max_match_len`), else the full suffix."""
    n = _max_match_len(regex)
    return f"substr(__s, p, {n})" if n is not None else "substr(__s, p)"


def _skip_to_fold(
    regex: str, mode: str, sym: str, chars: str | None = None
) -> str:
    """The SKIP TO FIRST/LAST <sym> match enumeration: a sequential
    left fold (``aggregate``) over the symbol-string positions. The
    accumulator is struct(r: next allowed scan position, ms: matches
    found so far as struct<mlen, sp>, err: first runtime error). Per
    position p: skipped cheaply when p < r or an error is latched
    (CASE short-circuits before the probe); otherwise ONE anchored
    '^pattern' probe (bound once via a 1-element transform — the r11
    let-binding rule) and, on a match, the resume point is the
    first/last <sym> offset inside the matched substring. SQL:2016's
    two runtime errors latch into err (raised by the caller's
    assert_true guard): <sym> absent from the match, and a resume
    target equal to the match's first row (the infinite-loop case —
    offset 1 for FIRST whenever the match STARTS with <sym>, and for
    LAST when the only <sym> is the start row). Cost: O(len) probes
    of O(len) worst-case per partition string — the same class as
    SKIP TO NEXT ROW; window long-lived entities first at scale."""
    chars = chars or sym
    if len(chars) == 1:
        if mode == "FIRST":
            off = f"CAST(locate('{chars}', mstr) AS INT)"
        else:  # LAST — two locate() calls, a bounded constant (not
            # per-element re-evaluation), so no extra binding layer
            off = (
                f"CAST(CASE WHEN locate('{chars}', reverse(mstr)) "
                f"= 0 THEN 0 ELSE length(mstr) - "
                f"locate('{chars}', reverse(mstr)) + 1 END AS INT)"
            )
    else:
        # SUBSET union target: first/last position whose char is in
        # the member set — the position array is bound once, then
        # read at index 1/-1 (0 = absent, the runtime-error latch)
        inlist = ", ".join(f"'{c}'" for c in chars)
        idx = "1" if mode == "FIRST" else "-1"
        off = (
            "element_at(transform(array(filter(sequence(1, "
            f"length(mstr)), q -> substring(mstr, q, 1) IN "
            f"({inlist}))), qs -> CAST(CASE WHEN size(qs) = 0 "
            f"THEN 0 ELSE element_at(qs, {idx}) END AS INT)), 1)"
        )
    err_absent = (
        f"AFTER MATCH SKIP TO {mode} {sym} failed: symbol {sym} "
        "did not participate in a match (SQL:2016 runtime error)"
    )
    err_loop = (
        f"AFTER MATCH SKIP TO {mode} {sym} failed: the resume row "
        "is the first row of its match, which would loop forever "
        "(SQL:2016 runtime error)"
    )
    return (
        "aggregate(sequence(1, length(__s)), "
        "named_struct('r', 1, "
        "'ms', CAST(array() AS ARRAY<STRUCT<mlen: INT, sp: INT>>), "
        "'err', CAST(NULL AS STRING)), "
        "(acc, p) -> CASE "
        "WHEN acc.err IS NOT NULL OR p < acc.r THEN acc "
        "ELSE element_at(transform(array("
        f"regexp_extract({_probe_hay(regex)}, '^({regex})', 1)), "
        "mstr -> CASE WHEN mstr = '' THEN acc "
        f"ELSE element_at(transform(array({off}), o -> CASE "
        f"WHEN o = 0 THEN named_struct('r', acc.r, 'ms', acc.ms, "
        f"'err', '{err_absent}') "
        f"WHEN o = 1 THEN named_struct('r', acc.r, 'ms', acc.ms, "
        f"'err', '{err_loop}') "
        "ELSE named_struct('r', p + o - 1, "
        "'ms', array_append(acc.ms, named_struct("
        "'mlen', CAST(length(mstr) AS INT), 'sp', CAST(p AS INT))), "
        "'err', acc.err) END), 1) END), 1) END)"
    )


def _mr_agg_sel(
    v: str, agg: str, name: str, promote: bool
) -> str:
    """Shared SUM/MIN/MAX/AVG read-out over a bound (NULL-filtered)
    value array — one home for the per-symbol and universal forms
    (r12 reviewer: the two copies had to be kept in sync by hand).
    Empty scope -> NULL (the SQL no-rows contract); SUM folds
    left-to-right from the first element; MIN/MAX are the array
    HOFs; AVG = double-cast sum over the non-null count. When
    ``promote`` (the source column is a sub-BIGINT integral), the
    fold INIT casts to BIGINT — SQL SUM/AVG promote integral inputs,
    and a type-preserving INT fold would hit ARITHMETIC_OVERFLOW
    under ANSI mode where every real SQL engine returns the BIGINT
    sum (r12 reviewer)."""
    init = f"element_at({v}, 1)"
    if promote:
        init = f"CAST({init} AS BIGINT)"
    fold = (
        f"aggregate(slice({v}, 2, size({v}) - 1), "
        f"{init}, (a, x) -> a + x)"
    )
    if agg == "SUM":
        return f"CASE WHEN size({v}) > 0 THEN {fold} END AS {name}"
    if agg == "AVG":
        return (
            f"CASE WHEN size({v}) > 0 THEN CAST({fold} AS "
            f"DOUBLE) / size({v}) END AS {name}"
        )
    return f"array_{agg.lower()}({v}) AS {name}"


def _lower_pattern(spark: SparkSession, query: str) -> DataFrame:
    m = _PATTERN_RE.match(query)
    if m is None:
        raise ValueError(
            "MATCH_RECOGNIZE present but the query does not match the "
            "supported grammar: SELECT <projections> FROM <table> "
            "MATCH_RECOGNIZE (PARTITION BY <key> ORDER BY <cols> "
            "[MEASURES <item> AS <name>, ...] "
            "[ONE ROW PER MATCH | ALL ROWS PER MATCH] "
            "[AFTER MATCH SKIP PAST LAST ROW | "
            "AFTER MATCH SKIP TO NEXT ROW | "
            "AFTER MATCH SKIP TO [FIRST|LAST] <symbol>] "
            "PATTERN ([^] <symbols with * + ? {n,m} | () "
            "PERMUTE(..)> [$]) "
            "[SUBSET <U> = (<syms>), ...] "
            "DEFINE <S> AS "
            "<pred>[, ...]) [ORDER BY <cols>] (one table, "
            "single-letter symbols, no WHERE/JOIN — pass the "
            "filtered frame instead: sql(spark, '... FROM {t} "
            "MATCH_RECOGNIZE (...)', t=df))"
        )
    all_rows = (
        m.group("rpm") is not None
        and m.group("rpm").upper().lstrip().startswith("ALL")
    )
    if m.group("rpm") is not None and m.group("meas") is None:
        # without MEASURES the lowering is the aggregate
        # one-row-per-PARTITION form — silently honoring the clause
        # would return the wrong row multiplicity (zero-match
        # partitions present, multi-match partitions collapsed), so
        # refuse rather than guess (r10 review find). ALL ROWS PER
        # MATCH without MEASURES would additionally need every input
        # column carried through the struct array — name a column
        # via LAST(<col>) instead.
        raise ValueError(
            f"{'ALL ROWS' if all_rows else 'ONE ROW'} PER MATCH "
            "requires a MEASURES clause in this adapter (without "
            "MEASURES the output is the aggregate per-partition "
            "form: key, seq_len, n_matches, matched)"
        )
    overlap = False
    skip_to = None  # ("FIRST"|"LAST", symbol) for SKIP TO <sym>
    if m.group("skip") is not None:
        skip = re.sub(r"\s+", " ", m.group("skip")).upper()
        sk = re.fullmatch(
            r"TO (?:(FIRST|LAST) )?([A-Za-z])", skip
        )
        if skip == "TO NEXT ROW":
            # overlapping matches: resume the scan one row after each
            # match's START. That is exactly "every position where an
            # anchored match begins", recoverable on both engines as
            # a per-position '^pattern' probe over the symbol string
            # — NO lookahead regex (RE2/DuckDB hard-errors on (?=);
            # probed r11), and no zero-width matches (the
            # engine-divergent case the nullability refusal guards).
            overlap = True
        elif sk is not None:
            # SKIP TO [FIRST|LAST] <symbol> — resume the scan AT the
            # first/last row mapped to <symbol> inside the match
            # (inclusive: that row may START the next match, so
            # matches can chain through a shared boundary row). Bare
            # SKIP TO <symbol> is the standard's shorthand for LAST.
            # SQL:2016's own runtime errors apply and are raised at
            # execution, not guessed away: a match where <symbol>
            # did not participate, and a skip target that IS the
            # match's first row (the infinite-loop case), both
            # error. Unlike PAST LAST ROW / TO NEXT ROW, the resume
            # point depends on the PREVIOUS match's symbol layout,
            # so the enumeration is a sequential left fold over the
            # positions (aggregate()), not independent probes.
            skip_to = (sk.group(1) or "LAST", sk.group(2).upper())
        elif skip != "PAST LAST ROW":
            raise ValueError(
                f"AFTER MATCH SKIP {skip} is not supported — the "
                "modes are SKIP PAST LAST ROW (the SQL:2016 "
                "default, the non-overlapping left-to-right scan), "
                "SKIP TO NEXT ROW (overlapping matches, one per "
                "starting row) and SKIP TO [FIRST|LAST] <symbol> "
                "(resume at the first/last row matched as <symbol>; "
                "bare TO <symbol> means TO LAST <symbol> per the "
                "standard)"
            )
    # DEFINE list: single-letter symbols, first-match-wins order
    defs: list = []
    seen: set = set()
    for item in _split_top_level(m.group("defs")):
        if not item.strip():
            continue
        dm = _DEFINE_ITEM_RE.match(item.strip())
        if dm is None:
            raise ValueError(
                f"DEFINE item {item.strip()!r} is not "
                "<single-letter symbol> AS <predicate>"
            )
        sym = dm.group("sym").upper()
        if sym in seen:
            raise ValueError(f"duplicate DEFINE symbol: {sym}")
        seen.add(sym)
        defs.append((sym, dm.group("pred").strip()))
    if not defs:
        raise ValueError("DEFINE lists no symbols")
    excl_info: dict = {}
    regex = _parse_pattern(m.group("pat"), excl_info)
    excluded = excl_info["excluded"]
    if excluded & excl_info["outside"]:
        # the output filter below identifies a row as excluded by
        # its CLASSIFIER symbol; a symbol both inside and outside an
        # exclusion region would need per-position regex-capture
        # attribution this lowering refuses to fake
        raise ValueError(
            "PATTERN exclusion {- ... -} is supported when the "
            "excluded symbols appear ONLY inside exclusion regions "
            "(row membership then equals classification); symbols "
            "also used outside: "
            + ", ".join(sorted(excluded & excl_info["outside"]))
        )
    if (regex.startswith("^") or regex.endswith("$")) and (
        overlap or skip_to is not None
    ):
        # the per-position anchored probes prepend their own '^' to
        # the emitted regex, which would neutralize a partition
        # anchor (every probe substring starts at its probe
        # position); an anchored pattern has at most one start/end
        # match anyway, so the overlapping/skip-to scans are
        # meaningless over it — refuse rather than silently change
        # the anchor's meaning
        raise ValueError(
            "PATTERN anchors (^/$) combine only with AFTER MATCH "
            "SKIP PAST LAST ROW — an anchored pattern pins the "
            "match to the partition boundary, so the overlapping "
            "and skip-to scans have nothing to enumerate"
        )
    pat_syms = set(re.findall(r"[A-Z]", regex))
    undefined = sorted(pat_syms - seen)
    if undefined:
        raise ValueError(
            "PATTERN symbols without a DEFINE: "
            + ", ".join(undefined)
            + " (full MATCH_RECOGNIZE treats them as always-true; "
            "this adapter refuses rather than guesses)"
        )
    # SUBSET clause (SQL:2016 union variables): SUBSET U = (A, B)
    # declares U as the union of primary symbols A and B — usable in
    # per-symbol MEASURES and as a SKIP TO target. In this lowering
    # a union symbol is simply a CHARACTER CLASS over the symbol
    # string: its position array filters on membership in the member
    # set instead of equality with one letter; everything downstream
    # (FIRST/LAST/COUNT/SUM/MIN/MAX/AVG read-out, skip-target
    # arithmetic) is unchanged.
    subsets: dict = {}  # union symbol -> member chars (e.g. "AB")
    if m.group("subset") is not None:
        _SUBSET_ITEM = re.compile(
            r"^\s*(?P<u>[A-Za-z])\s*=\s*\(\s*"
            r"(?P<elems>[A-Za-z](?:\s*,\s*[A-Za-z])*)\s*\)\s*$"
        )
        for item in _split_top_level(m.group("subset")):
            if not item.strip():
                continue
            sm = _SUBSET_ITEM.match(item)
            if sm is None:
                raise ValueError(
                    f"SUBSET item {item.strip()!r} is not "
                    "<single-letter union symbol> = "
                    "(<symbol>[, <symbol>...])"
                )
            u = sm.group("u").upper()
            if u in seen:
                # SQL:2016: a union variable must be distinct from
                # every primary (DEFINEd) pattern variable
                raise ValueError(
                    f"SUBSET symbol {u} collides with a DEFINE "
                    "symbol — union variables must be distinct "
                    "from primary pattern variables"
                )
            if u in subsets:
                raise ValueError(f"duplicate SUBSET symbol: {u}")
            elems = [
                e.strip().upper()
                for e in sm.group("elems").split(",")
            ]
            if len(set(elems)) != len(elems):
                raise ValueError(
                    f"SUBSET {u} lists a member twice"
                )
            missing = sorted(set(elems) - pat_syms)
            if missing:
                raise ValueError(
                    f"SUBSET {u} member(s) {', '.join(missing)} do "
                    "not appear in PATTERN (members must be primary "
                    "pattern variables; pattern symbols: "
                    f"{', '.join(sorted(pat_syms))})"
                )
            subsets[u] = "".join(sorted(elems))
    if skip_to is not None and not (
        skip_to[1] in pat_syms or skip_to[1] in subsets
    ):
        raise ValueError(
            f"AFTER MATCH SKIP TO {skip_to[0]} {skip_to[1]}: symbol "
            f"{skip_to[1]} does not appear in PATTERN (pattern "
            f"symbols: {', '.join(sorted(pat_syms))}"
            + (
                f"; SUBSET symbols: {', '.join(sorted(subsets))}"
                if subsets
                else ""
            )
            + ") — every match would hit the SQL:2016 "
            "skip-to-absent-symbol runtime error, so this is "
            "refused statically"
        )
    part = m.group("part").strip()
    order_cols = [
        o.strip() for o in m.group("order").split(",") if o.strip()
    ]
    if any(not re.fullmatch(r"\w+", o) for o in order_cols):
        raise ValueError(
            "MATCH_RECOGNIZE ORDER BY takes plain ascending column "
            f"names only (got {m.group('order').strip()!r})"
        )

    # PREV/NEXT navigation in DEFINE: SQL:2016's PREV/NEXT navigate
    # the ORDERED INPUT PARTITION by physical offset (irrespective of
    # symbol assignment — the spec's row pattern navigation on the
    # underlying row sequence), so PREV(col, k) is exactly
    # lag(col, k) OVER (PARTITION BY key ORDER BY order) — computable
    # per row BEFORE classification. Symbols stay row-local and the
    # initials-string lowering is UNCHANGED; the old "cross-row
    # predicates change the lowering" concern applied to
    # match-relative navigation (FIRST/LAST inside DEFINE), which
    # remains out of grammar. Each distinct (fn, col, k) is bound
    # ONCE as a window column (let-binding rule); string literals in
    # predicates are never rewritten; the first rows of a partition
    # see NULL (predicate not TRUE -> row unclassified, the spec's
    # behavior). Ties in the ORDER BY would make lag/lead
    # order-dependent — the same execution-time tie guard that
    # protects the symbol string covers this (same total order).
    nav_aliases: dict = {}
    table_cols = None  # lazy (list once fetched); shared with MEASURES

    def _get_table_cols() -> list:
        nonlocal table_cols
        if table_cols is None:
            try:
                table_cols = spark.table(m.group("t")).columns
            except Exception as e:  # noqa: BLE001
                raise ValueError(
                    "MATCH_RECOGNIZE source must be a resolvable "
                    f"table/view: {e}"
                ) from None
        return table_cols

    def _nav_repl(mm2: "re.Match") -> str:
        fn = mm2.group("fn").upper()
        col = mm2.group("col")
        k = int(mm2.group("k")) if mm2.group("k") else 1
        if col.casefold() not in {
            c.casefold() for c in _get_table_cols()
        }:
            raise ValueError(
                f"{fn}({col}) in DEFINE: {col!r} is not a column of "
                f"{m.group('t')} (columns: "
                f"{', '.join(_get_table_cols())})"
            )
        return nav_aliases.setdefault(
            (fn, col, k), f"__nav{len(nav_aliases)}"
        )

    def _rewrite_nav(pred: str) -> str:
        # split on single-quoted literals; rewrite only the code
        # segments (even indexes) so 'PREV(x)' the string survives
        segs = re.split(r"('(?:[^'])*')", pred)
        for i in range(0, len(segs), 2):
            segs[i] = _NAV_RE.sub(_nav_repl, segs[i])
            if re.search(r"\b(?:PREV|NEXT)\s*\(", segs[i], re.IGNORECASE):
                raise ValueError(
                    "PREV/NEXT in DEFINE takes a plain column and an "
                    "optional literal offset — PREV(<col>[, <k>]) — "
                    "navigation over an expression is not lowered "
                    f"(in: {pred.strip()!r})"
                )
        return "".join(segs)

    defs = [(sym, _rewrite_nav(pred)) for sym, pred in defs]
    nav_guard_cols = None
    if nav_aliases:
        navsel = ", ".join(
            f"{'lag' if fn == 'PREV' else 'lead'}({col}, {k}) OVER "
            f"(PARTITION BY {part} ORDER BY {', '.join(order_cols)}) "
            f"AS {alias}"
            for (fn, col, k), alias in nav_aliases.items()
        )
        src = f"(SELECT *, {navsel} FROM {m.group('t')})"
        # the input set for the tie guard (see _mr_partition_subquery):
        # every table column a DEFINE predicate references row-locally
        # (harvested outside string literals, validated against the
        # schema) plus the navigation source columns
        by_fold = {c.casefold(): c for c in _get_table_cols()}
        refs = {col for (_fn, col, _k) in nav_aliases}
        for _sym, pred in defs:
            segs = re.split(r"('(?:[^'])*')", pred)
            for i in range(0, len(segs), 2):
                for tok in re.findall(r"[A-Za-z_]\w*", segs[i]):
                    if tok.casefold() in by_fold:
                        refs.add(by_fold[tok.casefold()])
        nav_guard_cols = sorted(refs)
    else:
        src = m.group("t")

    sym_case = (
        "CASE "
        + " ".join(f"WHEN {pred} THEN '{sym}'" for sym, pred in defs)
        + " ELSE '-' END"
    )
    outorder = (
        f" ORDER BY {m.group('outorder').strip()}"
        if m.group("outorder")
        else ""
    )

    if m.group("meas") is None:
        # aggregate form: one row per partition key
        inner = _mr_partition_subquery(
            part, order_cols, sym_case, src, [],
            nav_guard_cols=nav_guard_cols,
        )
        if skip_to is not None:
            # sequential fold (see _skip_to_fold); the assert guard
            # surfaces the SQL:2016 runtime errors, and lives in a
            # WHERE so column pruning cannot drop it
            fold = _skip_to_fold(
                regex, skip_to[0], skip_to[1],
                subsets.get(skip_to[1]),
            )
            rewritten = (
                f"SELECT {m.group('proj')} FROM ("
                f"SELECT {part}, seq_len, n_matches, "
                "CAST(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END "
                "AS INT) AS matched FROM ("
                f"SELECT {part}, "
                "CAST(size(__arr) AS BIGINT) AS seq_len, "
                "CAST(size(__acc.ms) AS BIGINT) AS n_matches "
                f"FROM (SELECT {part}, __arr, {fold} AS __acc "
                f"FROM ({inner})) "
                "WHERE assert_true(__acc.err IS NULL, __acc.err) "
                "IS NULL"
                f")){outorder}"
            )
            return spark.sql(rewritten)
        if overlap:
            # overlapping count = number of positions where an
            # anchored match begins (see the skip-mode comment);
            # O(len) regex probes of O(len) per partition string vs
            # the non-overlapping scan's single pass — fine for
            # per-entity event sequences, window long-lived entities
            # by session/month first at 100 TB
            n_matches = (
                "CAST(size(filter(transform(sequence(1, "
                f"length(__s)), p -> regexp_extract({_probe_hay(regex)}, "
                f"'^({regex})', 1)), x -> x <> '')) AS BIGINT)"
            )
        else:
            n_matches = (
                f"CAST(size(regexp_extract_all(__s, '{regex}', 0)) "
                "AS BIGINT)"
            )
        rewritten = (
            f"SELECT {m.group('proj')} FROM ("
            f"SELECT {part}, seq_len, n_matches, "
            "CAST(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END AS INT) "
            "AS matched FROM ("
            f"SELECT {part}, "
            "CAST(size(__arr) AS BIGINT) AS seq_len, "
            f"{n_matches} AS n_matches "
            f"FROM ({inner})"
            f")){outorder}"
        )
        return spark.sql(rewritten)

    # MEASURES form: ONE ROW PER MATCH
    _get_table_cols()
    # casefolded column -> Spark type string, for the SQL integral
    # promotion in SUM/AVG folds (see _mr_agg_sel)
    table_types = {
        k.casefold(): v for k, v in spark.table(m.group("t")).dtypes
    }
    # (kind, col_or_None, name, sym_or_None, agg_or_None,
    #  fin: bool, koff: int) per parsed MEASURES item
    measures: list = []
    names: set = set()
    col_fields: dict = {}  # source col -> struct field alias
    for item in _split_top_level(m.group("meas")):
        item = item.strip()
        if not item:
            continue
        # optional explicit RUNNING/FINAL semantics keyword
        # (SQL:2016): the per-mode DEFAULTS (FINAL under ONE ROW,
        # RUNNING under ALL ROWS) have been the behavior all along;
        # the keywords make the choice explicit and, under ALL ROWS,
        # FINAL switches a measure to the WHOLE-match scope. Under
        # ONE ROW the evaluation row is the match's last row, where
        # RUNNING and FINAL coincide (the standard's own equivalence)
        # — both keywords are accepted there and change nothing.
        sem = None
        pm = re.match(
            r"^(RUNNING|FINAL)\s+(.+)$", item,
            re.IGNORECASE | re.DOTALL,
        )
        if pm is not None:
            sem = pm.group(1).upper()
            item = pm.group(2).strip()
        for kind, rx in _MEASURE_RES:
            mm = rx.match(item)
            if mm is not None:
                break
        else:
            raise ValueError(
                f"MEASURES item {item!r} is outside the supported "
                "menu: [RUNNING | FINAL] MATCH_NUMBER() | COUNT(*) "
                "| COUNT(<col>) | FIRST(<col>[, k]) | "
                "LAST(<col>[, k]) | CLASSIFIER() | universal "
                "SUM/MIN/MAX/AVG(<col>) | per-symbol "
                "FIRST(<S>.<col>[, k]) | LAST(<S>.<col>[, k]) | "
                "COUNT(<S>.*) "
                "| SUM/MIN/MAX/AVG(<S>.<col>), each AS <name> "
                "(without a keyword, aggregates are FINAL under ONE "
                "ROW PER MATCH and RUNNING under ALL ROWS PER MATCH "
                "— the SQL:2016 defaults; aggregates over "
                "expressions like "
                "SUM(C.x * 2) are not lowered — compute the column "
                "in a view first)"
            )
        if sem is not None and kind == "match_number":
            # SQL:2016 16.9: RUNNING/FINAL apply to aggregates and
            # FIRST/LAST navigation; MATCH_NUMBER is scope-free
            raise ValueError(
                f"{sem} MATCH_NUMBER() is not legal — RUNNING/"
                "FINAL qualify aggregates, navigation and "
                "CLASSIFIER, not MATCH_NUMBER (it has no row scope)"
            )
        fin = all_rows and sem == "FINAL"
        name = mm.group("name")
        if name in names:
            raise ValueError(f"duplicate MEASURES name: {name}")
        if name == m.group("part").strip():
            # the output already carries the partition key; a measure
            # of the same name would make every downstream reference
            # ambiguous (Spark errors only when it is referenced —
            # refuse up front instead)
            raise ValueError(
                f"MEASURES name {name!r} collides with the PARTITION "
                "BY column"
            )
        names.add(name)
        col = mm.groupdict().get("col")
        if col is not None:
            # case-insensitive resolution, the Spark default (see
            # the EXCLUDE note); the field alias is keyed casefolded
            # so Value and value share one struct field
            if col.casefold() not in {
                c.casefold() for c in table_cols
            }:
                raise ValueError(
                    f"MEASURES column {col!r} is not a column of "
                    f"{m.group('t')} (columns: {', '.join(table_cols)})"
                )
            col = col.casefold()
            col_fields.setdefault(col, f"__c{len(col_fields)}")
        sym = mm.groupdict().get("sym")
        if sym is not None:
            sym = sym.upper()
            if sym not in pat_syms and sym not in subsets:
                raise ValueError(
                    f"MEASURES item {item!r} references symbol "
                    f"{sym} which does not appear in PATTERN "
                    f"(pattern symbols: {', '.join(sorted(pat_syms))}"
                    + (
                        "; SUBSET symbols: "
                        + ", ".join(sorted(subsets))
                        if subsets
                        else ""
                    )
                    + ")"
                )
        agg = mm.groupdict().get("agg")
        # logical-offset navigation (SQL:2016): FIRST(col, k) is the
        # (k+1)-th row of the scope, LAST(col, k) the (k+1)-th from
        # its end — literal non-negative offset, out-of-range = NULL
        k = int(mm.groupdict().get("k") or 0)
        measures.append(
            (kind, col, name, sym, agg.upper() if agg else None,
             fin, k)
        )
    if not measures:
        raise ValueError("MEASURES lists no items")
    inner = _mr_partition_subquery(
        part, order_cols, sym_case, src,
        sorted(((f, c) for c, f in col_fields.items())),
        nav_guard_cols=nav_guard_cols,
    )
    # per-row position within the emitted row's scope: the current
    # row for ALL ROWS (running semantics, the SQL:2016 default
    # there), the match's last row for ONE ROW (final semantics).
    # fcur is the whole-match end — the scope of explicit FINAL
    # measures under ALL ROWS (fin is only ever True there).
    cur = "m.sp + m.j - 1" if all_rows else "m.sp + m.mlen - 1"
    fcur = "m.sp + m.mlen - 1"
    # distinct (symbol, scope) pairs: each binds one position array
    # (suffix 'f' = the FINAL whole-match scope under ALL ROWS)
    syms_used = sorted(
        {
            (s, "f" if fn else "")
            for _, _, _, s, _, fn, _ in measures
            if s is not None
        }
    )
    # distinct (symbol, column, scope) triples consumed by
    # SUM/MIN/MAX/AVG — each binds one in-scope value array
    # (let-binding rule)
    agg_vals = sorted(
        {
            (s, c, "f" if fn else "")
            for k, c, _, s, _, fn, _ in measures
            if k == "sym_agg"
        }
    )
    # distinct (column, scope) pairs consumed by the UNIVERSAL
    # aggregates (bare SUM/MIN/MAX/AVG/COUNT(<col>) over ALL rows of
    # the scope) — same let-binding rule, one NULL-filtered value
    # array each
    uni_vals = sorted(
        {
            (c, "f" if fn else "")
            for k, c, _, _, _, fn, _ in measures
            if k in ("uni_agg", "uni_count")
        }
    )
    sel = []
    for kind, col, name, sym, agg, fin, koff in measures:
        sfx = "f" if fin else ""
        mcur = fcur if fin else cur
        if kind == "match_number":
            sel.append(f"CAST(m.no AS INT) AS {name}")
        elif kind == "count":
            # ALL ROWS: RUNNING COUNT(*) = row position in the
            # match; FINAL COUNT(*) = the whole match's length
            n = "m.mlen" if (not all_rows or fin) else "m.j"
            sel.append(f"CAST({n} AS BIGINT) AS {name}")
        elif kind == "classifier":
            # the per-row symbol IS the classifier (first-matching
            # DEFINE); ONE ROW and FINAL return the LAST row's
            sel.append(f"substring(__s, {mcur}, 1) AS {name}")
        elif kind == "first":
            if koff == 0:
                sel.append(
                    f"element_at(__arr, m.sp).{col_fields[col]} "
                    f"AS {name}"
                )
            else:
                # FIRST(col, k): the (k+1)-th row of the scope;
                # past its end -> NULL (the standard's out-of-range)
                sel.append(
                    f"CASE WHEN m.sp + {koff} <= {mcur} THEN "
                    f"element_at(__arr, m.sp + {koff})."
                    f"{col_fields[col]} END AS {name}"
                )
        elif kind == "uni_agg":
            # universal aggregate: ALL rows of the scope (SQL:2016's
            # un-prefixed form ranges over the universal row-pattern
            # variable); same NULL-filtered fold as the per-symbol
            # family, the value array bound once per (column, scope)
            sel.append(
                _mr_agg_sel(
                    f"__uvals{sfx}_{col_fields[col]}",
                    agg,
                    name,
                    table_types.get(col)
                    in ("tinyint", "smallint", "int"),
                )
            )
        elif kind == "uni_count":
            # COUNT(<col>): NON-NULL values in scope (vs COUNT(*)'s
            # row count) — the size of the same filtered array
            sel.append(
                f"CAST(size(__uvals{sfx}_{col_fields[col]}) "
                f"AS BIGINT) AS {name}"
            )
        elif kind == "sym_count":
            # rows matched as <sym> in scope (FINAL under ONE ROW,
            # RUNNING under ALL ROWS) — the bound position array
            sel.append(
                f"CAST(size(__ps{sfx}_{sym}) AS BIGINT) AS {name}"
            )
        elif kind in ("sym_first", "sym_last"):
            # SQL:2016: NULL when the symbol has fewer than k+1 rows
            # in scope (CASE branches evaluate lazily, so the
            # element_at on the short array is never reached under
            # ANSI mode); k is the logical offset — FIRST(S.col, k)
            # reads the (k+1)-th S-row, LAST the (k+1)-th from the
            # symbol's end
            idx = (
                str(koff + 1)
                if kind == "sym_first"
                else str(-(koff + 1))
            )
            sel.append(
                f"CASE WHEN size(__ps{sfx}_{sym}) > {koff} THEN "
                f"element_at("
                f"__arr, element_at(__ps{sfx}_{sym}, {idx}))."
                f"{col_fields[col]} END AS {name}"
            )
        elif kind == "sym_agg":
            # SQL aggregates over the symbol's in-scope rows; empty
            # scope -> NULL (the no-rows contract). SUM folds
            # left-to-right from the first element (type-preserving,
            # no zero literal to type-guess); MIN/MAX are the array
            # HOFs (NULL on empty already); AVG = SUM cast double
            # over COUNT. The value array is bound once per
            # (symbol, column) in the wrapping projection, ALREADY
            # NULL-filtered there (r11 advisor): SQL aggregates skip
            # NULL inputs, but a left fold propagates one NULL into
            # the whole SUM and size() would count NULL rows into the
            # AVG divisor — so the binding drops NULLs and size(v) IS
            # the non-null count; all-NULL scope folds to the same
            # NULL as empty scope, exactly the SQL contract.
            sel.append(
                _mr_agg_sel(
                    f"__vals{sfx}_{sym}_{col_fields[col]}",
                    agg,
                    name,
                    table_types.get(col)
                    in ("tinyint", "smallint", "int"),
                )
            )
        else:  # last — running (current row) under ALL ROWS,
            # whole-match end under explicit FINAL; with a logical
            # offset k, the (k+1)-th row from the scope's end
            # (before the scope start -> NULL)
            if koff == 0:
                sel.append(
                    f"element_at(__arr, {mcur})."
                    f"{col_fields[col]} AS {name}"
                )
            else:
                sel.append(
                    f"CASE WHEN {mcur} - {koff} >= m.sp THEN "
                    f"element_at(__arr, ({mcur}) - {koff})."
                    f"{col_fields[col]} END AS {name}"
                )
    # match enumeration -> array<struct<no, mlen, sp>>:
    # - non-overlapping (SKIP PAST LAST ROW): the gaps/matches
    #   decomposition — both engines scan non-overlapping
    #   left-to-right, so match i starts after the first i gaps and
    #   the first i-1 matches (regexp_extract_all + split + HOF
    #   arithmetic);
    # - overlapping (SKIP TO NEXT ROW): one anchored '^pattern'
    #   probe per position, filtered to hits, numbered by start
    #   order (the index lambda).
    if skip_to is not None:
        # the sequential SKIP TO fold — __acc is bound once in a
        # wrapping projection (below) and guarded there; matches are
        # numbered by their scan order, exactly the fold order
        pre = ""
        mt = (
            "transform(__acc.ms, (t, i) -> "
            "struct(i + 1 AS no, t.mlen AS mlen, t.sp AS sp))"
        )
    elif overlap:
        pre = ""
        mt = (
            "transform(filter(transform(sequence(1, length(__s)), "
            "p -> struct(p AS sp, length(regexp_extract("
            f"{_probe_hay(regex)}, '^({regex})', 1)) AS mlen)), "
            "t -> t.mlen > 0), (t, i) -> "
            "struct(i + 1 AS no, t.mlen AS mlen, t.sp AS sp))"
        )
    else:
        pre = (
            f"regexp_extract_all(__s, '{regex}', 0) AS __ms, "
            f"split(__s, '{regex}', -1) AS __gs, "
        )
        mt = (
            "transform("
            "slice(sequence(1, greatest(size(__ms), 1)), 1, "
            "size(__ms)), "
            "i -> struct(i AS no, length(element_at(__ms, i)) AS "
            "mlen, "
            "aggregate(slice(__gs, 1, i), 0, (a, g) -> a + length(g))"
            " + "
            "aggregate(slice(__ms, 1, i - 1), 0, (a, g) -> a + "
            "length(g)) + 1 AS sp))"
        )
    if all_rows:
        # one row per MATCHED INPUT ROW: fan each match out to its
        # mlen rows (j = 1-based row index within the match).
        # Unmatched rows are omitted — the ALL ROWS PER MATCH default
        # (WITH UNMATCHED ROWS is not supported).
        mt = (
            f"flatten(transform({mt}, m0 -> "
            "transform(sequence(1, m0.mlen), j -> "
            "struct(m0.no AS no, m0.mlen AS mlen, m0.sp AS sp, "
            "j AS j))))"
        )
        if excluded:
            # SQL:2016 exclusion: the region's rows MATCH (extents,
            # j-numbering, MEASURES and the skip arithmetic all see
            # them — RUNNING values on an emitted row still count
            # excluded rows before it) but are omitted from the ALL
            # ROWS output. Membership = classification, valid under
            # the disjointness refusal above.
            inlist = ", ".join(f"'{c}'" for c in sorted(excluded))
            mt = (
                f"filter({mt}, e -> substring(__s, "
                f"e.sp + e.j - 1, 1) NOT IN ({inlist}))"
            )
    # explode of an empty array drops zero-match partitions — exactly
    # the PER MATCH contract (slice(x, 1, 0) is [] in the
    # non-overlapping enumeration; filter() yields [] in the
    # overlapping one).
    # per-symbol measures read from position arrays bound ONCE in
    # the lateral-view-level projection (the round-11 let-binding
    # rule: sibling measures reading the same symbol share the
    # filter() through a named column, they do not re-derive it);
    # the match scope is [sp, cur] — the whole match under ONE ROW
    # (final semantics), up to the current row under ALL ROWS
    # (running). When no per-symbol measure is present ps is empty
    # and the mid projection is a pass-through Catalyst collapses.
    # A SUBSET union symbol is a character CLASS here (membership
    # test instead of equality) — the only place union-ness exists.
    def _sym_pred(y: str) -> str:
        chars = subsets.get(y, y)
        if len(chars) == 1:
            return f"substring(__s, p, 1) = '{chars}'"
        inlist = ", ".join(f"'{c}'" for c in chars)
        return f"substring(__s, p, 1) IN ({inlist})"

    ps = "".join(
        f", filter(sequence(m.sp, {fcur if sfx else cur}), "
        f"p -> {_sym_pred(y)}) AS __ps{sfx}_{y}"
        for (y, sfx) in syms_used
    )
    if skip_to is not None:
        # bind the fold ONCE, then guard: the SQL:2016 runtime
        # errors (absent symbol / resume-at-match-start) latched in
        # __acc.err raise HERE, before any match row is emitted; the
        # assert lives in a WHERE so column pruning cannot drop it
        fold = _skip_to_fold(
            regex, skip_to[0], skip_to[1], subsets.get(skip_to[1])
        )
        base = (
            f"SELECT {part}, __arr, __s, m{ps} FROM ("
            f"SELECT {part}, __arr, __s, __acc FROM ("
            f"SELECT {part}, __arr, __s, {fold} AS __acc "
            f"FROM ({inner})"
            ") WHERE assert_true(__acc.err IS NULL, __acc.err) "
            "IS NULL"
            f") LATERAL VIEW explode({mt}) __mt AS m"
        )
    else:
        base = (
            f"SELECT {part}, __arr, __s, m{ps} FROM ("
            f"SELECT {part}, __arr, {pre}"
            f"__s FROM ({inner})"
            f") LATERAL VIEW explode({mt}) __mt AS m"
        )
    if agg_vals or uni_vals:
        # a second wrap binds each aggregated (symbol, column) value
        # array once — it must sit ABOVE the __ps layer because a
        # projection cannot reference a sibling alias
        psrefs = "".join(
            f", __ps{sfx}_{y}" for (y, sfx) in syms_used
        )
        # NULL rows are dropped HERE so every consumer sees SQL
        # aggregate semantics: SUM's left fold never touches a NULL
        # (one would poison the whole sum), AVG's size(v) divisor is
        # the NON-NULL count, and MIN/MAX are unchanged (array_min/
        # max already skip NULLs) — one filter serves all four.
        vals = "".join(
            f", filter(transform(__ps{sfx}_{y}, "
            f"p -> element_at(__arr, p)."
            f"{col_fields[c]}), x -> x IS NOT NULL) "
            f"AS __vals{sfx}_{y}_{col_fields[c]}"
            for (y, c, sfx) in agg_vals
        )
        # universal value arrays: ALL scope rows (no symbol filter
        # — the scope sequence itself), same NULL drop
        vals += "".join(
            f", filter(transform("
            f"sequence(m.sp, {fcur if sfx else cur}), "
            f"p -> element_at(__arr, p)."
            f"{col_fields[c]}), x -> x IS NOT NULL) "
            f"AS __uvals{sfx}_{col_fields[c]}"
            for (c, sfx) in uni_vals
        )
        base = (
            f"SELECT {part}, __arr, __s, m{psrefs}{vals} "
            f"FROM ({base})"
        )
    rewritten = (
        f"SELECT {m.group('proj')} FROM ("
        f"SELECT {part}, {', '.join(sel)} FROM ({base})"
        f"){outorder}"
    )
    return spark.sql(rewritten)


def _lower_exclude(spark: SparkSession, query: str) -> DataFrame:
    tokens = list(_EXCLUDE_RE.finditer(query))
    if len(tokens) != 1:
        raise ValueError(
            "EXCLUDE present but the query does not match the supported "
            "grammar: exactly one * EXCLUDE (<col>[, <col>...]) "
            "projection item per query"
        )
    tname, cols = _resolve_single_table(spark, query, "* EXCLUDE")
    # Spark resolves identifiers case-INsensitively by default
    # (spark.sql.caseSensitive=false), so the validation here must
    # too (r12 reviewer): refusing 'Payload' against a 'payload'
    # column would reject a query Spark itself accepts
    folded = {c.casefold() for c in cols}
    listed = [c.strip() for c in tokens[0].group("cols").split(",") if c.strip()]
    if not listed:
        raise ValueError("* EXCLUDE () lists no columns")
    seen: set = set()
    for c in listed:
        if c.casefold() in seen:
            # DuckDB: "Duplicate entry ... in EXCLUDE list"
            raise ValueError(f"duplicate column in EXCLUDE list: {c}")
        seen.add(c.casefold())
        if c.casefold() not in folded:
            # DuckDB errors on an unknown EXCLUDE entry; silently
            # ignoring a typo would leave the payload column in the
            # scan — the opposite of what the user asked for
            raise ValueError(
                f"EXCLUDE column {c!r} is not a column of "
                f"{tname} (columns: {', '.join(cols)})"
            )
    if len(listed) == len(cols):
        raise ValueError(
            "* EXCLUDE removes every column of "
            f"{tname} — an empty projection (DuckDB also "
            "refuses this)"
        )
    start, end = tokens[0].span()
    rewritten = (
        query[:start] + f"* EXCEPT ({', '.join(listed)})" + query[end:]
    )
    return spark.sql(rewritten)


_REPLACE_RE = re.compile(
    r"\*\s*REPLACE\s*\(\s*(?P<items>.+?)\s*\)\s+FROM",
    re.IGNORECASE | re.DOTALL,
)

_REPLACE_ITEM_RE = re.compile(
    r"^(?P<expr>.+?)\s+AS\s+(?P<col>\w+)$", re.IGNORECASE | re.DOTALL
)


def _lower_replace(spark: SparkSession, query: str) -> DataFrame:
    tokens = list(_REPLACE_RE.finditer(query))
    if len(tokens) != 1:
        raise ValueError(
            "REPLACE present but the query does not match the supported "
            "grammar: exactly one * REPLACE (<expr> AS <col>[, ...]) "
            "projection item per query, immediately before FROM"
        )
    tname, cols = _resolve_single_table(spark, query, "* REPLACE")
    folded = {c.casefold() for c in cols}
    repl: dict = {}  # keyed by casefolded target (case-insensitive
    # resolution, the Spark default — see the EXCLUDE note)
    for item in _split_top_level(tokens[0].group("items")):
        m = _REPLACE_ITEM_RE.match(item.strip())
        if m is None:
            raise ValueError(
                f"REPLACE item {item.strip()!r} is not <expr> AS <col>"
            )
        col = m.group("col")
        if col.casefold() in repl:
            # DuckDB: "duplicate column name in replace list"
            raise ValueError(f"duplicate column in REPLACE list: {col}")
        if col.casefold() not in folded:
            # DuckDB errors on an unknown REPLACE target; silently
            # appending a new column instead would change the shape
            raise ValueError(
                f"REPLACE target {col!r} is not a column of "
                f"{tname} (columns: {', '.join(cols)})"
            )
        repl[col.casefold()] = m.group("expr").strip()
    projection = ", ".join(
        f"{repl[c.casefold()]} AS {c}" if c.casefold() in repl else c
        for c in cols
    )
    start, end = tokens[0].span()
    rewritten = query[:start] + projection + " FROM" + query[end:]
    return spark.sql(rewritten)


def _lower_columns(spark: SparkSession, query: str) -> DataFrame:
    tokens = list(_COLUMNS_RE.finditer(query))
    if len(tokens) != 1:
        raise ValueError(
            "COLUMNS present but the query does not match the supported "
            "grammar: exactly one COLUMNS('<regex>') projection item "
            "(single-quoted pattern) per query"
        )
    tname, cols = _resolve_single_table(
        spark, query, "COLUMNS expansion"
    )
    pat = tokens[0].group("pat")
    try:
        rx = re.compile(pat)
    except re.error as e:
        raise ValueError(f"COLUMNS pattern does not compile: {e}") from None
    matched = [c for c in cols if rx.search(c)]
    if not matched:
        # DuckDB also errors when COLUMNS matches nothing — an empty
        # projection silently returning 0 columns helps nobody
        raise ValueError(
            f"COLUMNS({pat!r}) matched no column of "
            f"{tname} (columns: {', '.join(cols)})"
        )
    start, end = tokens[0].span()
    rewritten = query[:start] + ", ".join(matched) + query[end:]
    return spark.sql(rewritten)


def _lower_qualify(spark: SparkSession, query: str) -> DataFrame:
    m = _QUALIFY_RE.match(query)
    if m is None:
        raise ValueError(
            "QUALIFY present but the query does not match the supported "
            "grammar: SELECT <projections> FROM <table> [WHERE <pred>] "
            "QUALIFY row_number()|rank()|dense_rank() OVER (PARTITION BY "
            "<keys> ORDER BY <order>) =|<|<= <N> (one table, QUALIFY "
            "last; pass a subquery's result as a frame: sql(spark, "
            "'... FROM {t} ...', t=df))"
        )
    # collision-proof plumbing alias: the grammar places no
    # restriction on source column names, so a fixed "__q" would
    # break an in-grammar query over a table that already has one
    rank_col = f"__q_{uuid.uuid4().hex[:8]}"
    # the rank column is plumbing, not a result column — suppressed
    # through EVERY top-level star, including mixed projections like
    # 'grp, *' (r12 reviewer: the old check handled only proj='*')
    proj = _star_except(m.group("proj").strip(), rank_col)
    where = f" WHERE {m.group('where')}" if m.group("where") else ""
    rewritten = (
        f"SELECT {proj} FROM ("
        f"SELECT *, {m.group('fn').lower()}() OVER ("
        f"PARTITION BY {m.group('part').strip()} "
        f"ORDER BY {m.group('order').strip()}) AS {rank_col} "
        f"FROM {m.group('t')}{where}"
        f") WHERE {rank_col} {m.group('op')} {m.group('n')}"
    )
    return spark.sql(rewritten)


def _lower_distinct_on(spark: SparkSession, query: str) -> DataFrame:
    m = _DISTINCT_ON_RE.match(query)
    if m is None:
        raise ValueError(
            "DISTINCT ON present but the query does not match the supported "
            "grammar: SELECT DISTINCT ON (<keys>) <projections> FROM "
            "<table> [WHERE <pred>] ORDER BY <keys>, <tiebreak...> "
            "(one table; ORDER BY must lead with the DISTINCT ON keys, "
            "as Postgres requires)"
        )
    keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
    order = [o.strip() for o in m.group("order").split(",") if o.strip()]
    lead = [re.split(r"\s+", o)[0] for o in order[: len(keys)]]
    # case-insensitive, like Spark's own identifier resolution
    if [c.casefold() for c in lead] != [c.casefold() for c in keys]:
        raise ValueError(
            "ORDER BY must lead with the DISTINCT ON keys in the same "
            f"order (Postgres rule): keys={keys}, order leads with {lead}"
        )
    tiebreak = ", ".join(order[len(keys):]) or ", ".join(keys)
    where = f" WHERE {m.group('where')}" if m.group("where") else ""
    # collision-proof plumbing alias + star suppression + the outer
    # ORDER BY (r12 reviewer, three Postgres-parity holes): a fixed
    # __rn broke tables that already have one and LEAKED through
    # 'SELECT DISTINCT ON (k) *'; and Postgres guarantees the
    # result order IS the written ORDER BY, which the old rewrite
    # consumed into the window and dropped
    rn = f"__rn_{uuid.uuid4().hex[:8]}"
    proj = _star_except(m.group("proj").strip(), rn)
    rewritten = (
        f"SELECT {proj} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {', '.join(keys)} "
        f"ORDER BY {tiebreak}) AS {rn} FROM {m.group('t')}{where}"
        f") WHERE {rn} = 1 ORDER BY {', '.join(order)}"
    )
    return spark.sql(rewritten)




def _sub_outside_literals(pattern: str, repl: str, text: str) -> str:
    """re.sub applied only OUTSIDE single-quoted string literals —
    the _rewrite_nav technique, shared (r12 reviewer): a blanket sub
    over the whole query corrupts any literal that happens to
    contain the pattern (e.g. an ASOF alias followed by a dot)."""
    segs = re.split(r"('(?:[^'])*')", text)
    for i in range(0, len(segs), 2):
        segs[i] = re.sub(pattern, repl, segs[i])
    return "".join(segs)


def _resolve_single_table(
    spark: SparkSession, query: str, feature: str
) -> tuple:
    """The star-expansion grammars' shared scaffolding (COLUMNS /
    * EXCLUDE / * REPLACE): refuse JOINs, extract FROM <table>,
    resolve its columns. Returns (table_name, columns). One home so
    a rule fix (like the case-insensitivity one below) lands once."""
    if re.search(r"\bJOIN\b", query, re.IGNORECASE):
        raise ValueError(
            f"{feature} supports a single named table — no JOINs "
            "(pass the joined frame instead: sql(spark, "
            "'... FROM {t}', t=df))"
        )
    tmatch = re.search(r"\bFROM\s+(\w+)", query, re.IGNORECASE)
    if tmatch is None:
        raise ValueError(
            f"{feature} needs FROM <table> (a named table, or a "
            "frame bound with sql(spark, '... FROM {t}', t=df) — "
            "CTEs/subqueries are not supported)"
        )
    try:
        cols = spark.table(tmatch.group(1)).columns
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"{feature} source must be a resolvable table/view: {e}"
        ) from None
    return tmatch.group(1), cols


def _star_except(proj: str, col: str) -> str:
    """Rewrite every TOP-LEVEL bare ``*`` item of a projection list
    to ``* EXCEPT (col)`` — so a plumbing column added by a lowering
    (QUALIFY's rank, DISTINCT ON's row number) never leaks through a
    star, including MIXED projections like ``grp, *`` (r12
    reviewer: the old check handled only proj == '*')."""
    items = _split_top_level(proj)
    return ", ".join(
        f"* EXCEPT ({col})" if it.strip() == "*" else it.strip()
        for it in items
    )


def _split_top_level(expr_list: str) -> list:
    """Split a SELECT projection list on commas at paren/quote depth
    zero (so function arguments and string literals stay intact)."""
    parts, depth, in_str, buf = [], 0, False, []
    for ch in expr_list:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _lower_sample_by(spark: SparkSession, query: str) -> DataFrame:
    m = _SAMPLE_RE.match(query)
    if m is None:
        raise ValueError(
            "SAMPLE BY present but the query does not match the supported "
            "grammar: SELECT <projections> FROM <table> [WHERE <pred>] "
            "SAMPLE BY <N><s|m|h|d> [ON <ts_col>] (one table, SAMPLE BY "
            "last; pass a subquery's result as a frame: sql(spark, "
            "'... FROM {t} ...', t=df))"
        )
    width = int(m.group("n")) * _UNIT_SEC[m.group("u").lower()]
    col = m.group("col") or "ts"
    # epoch-aligned integer bucketing: tz-free, engine-exact, and
    # equal to date_trunc for whole-unit widths. FLOOR alignment via
    # pmod (r12 reviewer): DIV truncates toward zero, so a PRE-epoch
    # timestamp (negative seconds) would land in the bucket that
    # starts AFTER it; x - pmod(x, w) is the correct floor multiple
    # for both signs (pmod is non-negative), stays in exact bigint
    # arithmetic, and equals the old DIV form for all post-epoch
    # data.
    secs = (
        "timestampdiff(SECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    )
    bucket = (
        f"timestampadd(SECOND, {secs} - pmod({secs}, {width}), "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    proj = m.group("proj")
    # QuestDB-style: bare column projections join the grouping key.
    # Split on TOP-LEVEL commas only (round-7 review find: a naive
    # split leaked multi-arg function arguments like
    # coalesce(a, fallback, 'x') into GROUP BY)
    bare = [
        p.strip()
        for p in _split_top_level(proj)
        if re.fullmatch(r"\w+", p.strip())
    ]
    keys = ", ".join(["sample_ts", *bare])
    where = f" WHERE {m.group('where')}" if m.group("where") else ""
    rewritten = (
        f"SELECT {bucket} AS sample_ts, {proj} "
        f"FROM {m.group('t')}{where} GROUP BY {keys}"
    )
    return spark.sql(rewritten)


def sql(spark: SparkSession, query: str, **frames: DataFrame) -> DataFrame:
    """Run ``query``, lowering one supported extension clause —
    ASOF [LEFT] JOIN onto the library as-of join, SAMPLE BY onto an
    epoch-aligned bucket GROUP BY, DISTINCT ON / QUALIFY onto rank
    windows, COLUMNS('<regex>') onto a schema-resolved projection
    list, * EXCLUDE onto a schema-validated * EXCEPT, * REPLACE
    onto a schema-resolved explicit projection, MATCH_RECOGNIZE onto
    the initials-string sequence matcher (module docstring has all
    eight grammars).

    ``frames`` binds DataFrames to ``{name}`` placeholders exactly as
    ``spark.sql(query, **frames)`` does: ``sql(spark, "SELECT ...
    FROM {events} QUALIFY ...", events=df)``. With frames, literal
    braces are written ``{{``/``}}`` (a ``{{2,4}}`` quantifier) and a
    ``str`` value becomes a quoted SQL literal. Every view bound here
    is dropped once the plan is analyzed — the plan holds the
    resolved subtree, not the name."""
    fmt = SQLStringFormatter(spark)
    try:
        if frames:
            query = fmt.format(query, **frames)
        return _lower(spark, query, fmt)
    finally:
        fmt.clear()


def _lower(
    spark: SparkSession, query: str, fmt: SQLStringFormatter
) -> DataFrame:
    if re.search(r"\bMATCH_RECOGNIZE\b", query, re.IGNORECASE):
        return _lower_pattern(spark, query)
    if re.search(r"\bCOLUMNS\s*\(", query, re.IGNORECASE):
        return _lower_columns(spark, query)
    if re.search(r"\bEXCLUDE\b", query, re.IGNORECASE):
        return _lower_exclude(spark, query)
    if re.search(r"\*\s*REPLACE\s*\(", query, re.IGNORECASE):
        return _lower_replace(spark, query)
    if re.search(r"\bSAMPLE\s+BY\b", query, re.IGNORECASE):
        return _lower_sample_by(spark, query)
    if re.search(r"\bDISTINCT\s+ON\b", query, re.IGNORECASE):
        return _lower_distinct_on(spark, query)
    if re.search(r"\bQUALIFY\b", query, re.IGNORECASE):
        return _lower_qualify(spark, query)
    matches = list(_ASOF_RE.finditer(query))
    if not matches:
        if re.search(r"\bASOF\b", query, re.IGNORECASE):
            raise ValueError(
                "ASOF present but the clause does not match the supported "
                "grammar: FROM <t> <a> ASOF [LEFT] JOIN <t> <a> ON "
                "<a>.<k> = <a>.<k> AND <a>.<ts> {>=|<=} <a>.<ts> "
                "(tables must be named — pass CTE bodies as frames: "
                "sql(spark, '... FROM {c} c ASOF JOIN {p} p ...', "
                "c=df1, p=df2))"
            )
        return spark.sql(query)
    if len(matches) > 1:
        raise ValueError("only one ASOF JOIN per query is supported")
    m = matches[0]
    la, ra = m.group("la"), m.group("ra")
    # both halves of each predicate must use the declared aliases
    if {m.group("ka"), m.group("kb")} != {la, ra} or {
        m.group("ta"),
        m.group("tb"),
    } != {la, ra}:
        raise ValueError(
            "ON predicates must reference the two declared aliases"
        )
    # normalize predicate sides to (left, right)
    lk = m.group("lk") if m.group("ka") == la else m.group("rk")
    rk = m.group("rk") if m.group("kb") == ra else m.group("lk")
    if m.group("ta") != la:
        raise ValueError(
            "the time bound must lead with the left alias: "
            "<left_alias>.<ts> >= <right_alias>.<ts> (backward as-of) "
            "or <left_alias>.<ts> <= <right_alias>.<ts> (forward)"
        )
    # DuckDB/Snowflake convention: the inequality's direction IS the
    # as-of direction — l.ts >= r.ts attaches the most recent right
    # row, l.ts <= r.ts the NEXT one (both inclusive at equality,
    # matching pandas merge_asof and DuckDB's native ASOF)
    direction = "backward" if m.group("op") == ">=" else "forward"
    lts, rts = m.group("lts"), m.group("rts")
    try:
        left = spark.table(m.group("lt"))
        right = spark.table(m.group("rt"))
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"ASOF sides must be resolvable tables/views: {e}"
        ) from None

    right_in = right
    if rk != lk:
        right_in = right.withColumnRenamed(rk, lk)
    right_values = [
        c for c in right_in.columns if c not in (lk, rts)
    ]
    joined = asof_join(
        left,
        right_in,
        on=lk,
        left_ts=lts,
        right_ts=rts,
        right_values=right_values,
        how="left" if m.group("left") else "inner",
        direction=direction,
    )

    # the joined frame is bound through the caller's formatter, so
    # sql()'s fmt.clear() drops its view with the caller's own
    view = fmt.format("{j}", j=joined)
    rewritten = query[: m.start()] + f"FROM {view}" + query[m.end() :]
    # right-alias refs: the right ts surfaces as asof_ts, the right
    # KEY was renamed to the left key's name (different-name joins;
    # stripping 'r.' alone would leave a dangling right-key name),
    # and everything else keeps its name. Left-alias refs keep their
    # names. All substitutions skip single-quoted literals, which
    # may contain '<alias>.'.
    rewritten = _sub_outside_literals(
        rf"\b{ra}\.{rts}\b", "asof_ts", rewritten
    )
    if rk != lk:
        rewritten = _sub_outside_literals(
            rf"\b{ra}\.{rk}\b", lk, rewritten
        )
    rewritten = _sub_outside_literals(rf"\b{ra}\.", "", rewritten)
    rewritten = _sub_outside_literals(rf"\b{la}\.", "", rewritten)
    return spark.sql(rewritten)
