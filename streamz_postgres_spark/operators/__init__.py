"""Operator modules. Importing this package registers every query.

Module map (SURVEY.md §2.7/§2.8 keys):
- ``flagship``      q_flagship, q_flagship_q3
- ``relational``    scan/project/filter/pluck/explode/limit/sort/cast
- ``joins``         inner/outer/semi/anti/broadcast/theta/interval/
                    multiway + as-of + lockstep zip
- ``aggregates``    global/grouped/distinct/rollup/cube/grouping
                    sets/having/approx
- ``windows``       rank/analytic/frames/top-k/dedup/latest-per-key
- ``setops``        union/intersect/except
- ``timewindows``   tumbling/sliding/session/count-partition
- ``scalar_funcs``  string/date/math/conditional/array/json families
- ``subqueries``    scalar + IN subquery forms
- ``dedup``         exact & near-dup (minhash/simhash/ngram-jaccard)
- ``similarity``    cosine top-k, all-pairs, LSH
- ``text``          text stats, tf-idf, lang-id, quality, tokens
- ``multimodal``    binary-column pipeline plumbing
"""

from streamz_postgres_spark.operators import (  # noqa: F401
    aggregates,
    corpus,
    dedup,
    flagship,
    graph,
    joins,
    lines,
    multimodal,
    pipeline,
    relational,
    reshape,
    scalar_funcs,
    setops,
    similarity,
    stats,
    subqueries,
    text,
    timewindows,
    tpch,
    udfs,
    windows,
)

# streaming/CDC operators register themselves too
from streamz_postgres_spark.streaming import (  # noqa: E402,F401
    cdc_live,
    corpus_live,
    files,
    stateful,
    windowed,
)
