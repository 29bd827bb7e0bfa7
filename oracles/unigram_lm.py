"""DuckDB twins of operators/unigram_lm.py: the EM fit and the Viterbi
segmentation unrolled over the word-length cap.
"""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.unigram_lm import KMAX, MAXLEN, VOCAB_MULTI


_OCC_DUCK = (
    "flatten(list_transform(generate_series(1, len(w)),"
    f" i -> list_transform(generate_series(1, least({KMAX}, i)),"
    " k -> [i, k])))"
)


def unigram_em_sql(docs_sql_tokens: str) -> str:
    """DuckDB twin: ``docs_sql_tokens`` is a SELECT yielding one
    token-array column ``toks``."""

    def p_of(x: str) -> str:
        return f"COALESCE((SELECT p0 FROM voc WHERE piece = ({x})), 0.0)"

    parts = [
        f"""WITH w0 AS MATERIALIZED (
      SELECT substr(t, 1, {MAXLEN}) AS w, COUNT(*) AS wc
      FROM (SELECT unnest(toks) AS t FROM ({docs_sql_tokens}))
      GROUP BY 1
    )""",
        f"""occ AS MATERIALIZED (
      SELECT w, wc, u.ik[1] AS i, u.ik[2] AS k,
             substr(w, u.ik[1] - u.ik[2] + 1, u.ik[2]) AS q
      FROM w0, unnest({_OCC_DUCK}) AS u(ik)
    )""",
        "pc AS MATERIALIZED (SELECT q, SUM(wc) AS c FROM occ GROUP BY q)",
        f"""voc AS MATERIALIZED (
      SELECT q AS piece, c,
             CAST(c AS DOUBLE) / (SELECT SUM(c) FROM (
               SELECT c FROM pc WHERE len(q) = 1
               UNION ALL
               SELECT c FROM (SELECT c FROM pc WHERE len(q) >= 2
                              ORDER BY c DESC, q ASC LIMIT {VOCAB_MULTI})
             )) AS p0
      FROM (
        SELECT q, c FROM pc WHERE len(q) = 1
        UNION ALL
        SELECT q, c FROM (SELECT q, c FROM pc WHERE len(q) >= 2
                          ORDER BY c DESC, q ASC LIMIT {VOCAB_MULTI})
      )
    )""",
        "f0 AS MATERIALIZED (SELECT w, wc, len(w) AS l, reverse(w) AS r,"
        " 1.0 AS a0, 1.0 AS b0 FROM w0)",
    ]
    prev = "f0"
    for i in range(1, MAXLEN + 1):
        terms = " + ".join(
            f"a{i - k} * {p_of(f'substr(w, {i - k + 1}, {k})')}"
            for k in range(1, min(KMAX, i) + 1)
        )
        parts.append(f"""f{i} AS MATERIALIZED (
      SELECT *, CASE WHEN {i} <= l THEN {terms} ELSE 0.0 END AS a{i}
      FROM {prev}
    )""")
        prev = f"f{i}"
    for j in range(1, MAXLEN + 1):
        terms = " + ".join(
            f"b{j - k} * {p_of(f'reverse(substr(r, {j - k + 1}, {k}))')}"
            for k in range(1, min(KMAX, j) + 1)
        )
        parts.append(f"""g{j} AS MATERIALIZED (
      SELECT *, CASE WHEN {j} <= l THEN {terms} ELSE 0.0 END AS b{j}
      FROM {prev}
    )""")
        prev = f"g{j}"
    z_case = (
        "CASE l "
        + " ".join(f"WHEN {i} THEN a{i}" for i in range(1, MAXLEN + 1))
        + " END"
    )
    a_case = (
        "CASE (u.ik[1] - u.ik[2]) "
        + " ".join(f"WHEN {i} THEN a{i}" for i in range(MAXLEN))
        + " END"
    )
    b_case = (
        "CASE (l - u.ik[1]) "
        + " ".join(f"WHEN {j} THEN b{j}" for j in range(MAXLEN))
        + " END"
    )
    parts.append(f"""dp AS MATERIALIZED (
      SELECT *, {z_case} AS z FROM {prev}
    )""")
    parts.append(f"""occ2 AS MATERIALIZED (
      SELECT substr(w, u.ik[1] - u.ik[2] + 1, u.ik[2]) AS q,
             wc * ({a_case})
                * {p_of("substr(w, u.ik[1] - u.ik[2] + 1, u.ik[2])")}
                * ({b_case}) / z AS contrib
      FROM dp, unnest({_OCC_DUCK}) AS u(ik)
    )""")
    parts.append(
        "e AS MATERIALIZED (SELECT q, CAST(SUM(CAST(contrib AS"
        " DECIMAL(38,18))) AS DOUBLE) AS e FROM occ2 GROUP BY q)"
    )
    parts.append(
        "tote AS (SELECT CAST(SUM(CAST(contrib AS DECIMAL(38,18)))"
        " AS DOUBLE) AS te FROM occ2)"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT voc.piece, CAST(voc.c AS BIGINT) AS cnt,
           round(voc.p0, 9) AS p0,
           round(COALESCE(e.e, 0.0) / tote.te, 9) AS p1
    FROM voc LEFT JOIN e ON e.q = voc.piece CROSS JOIN tote
    """
    )


def unigram_viterbi_sql(docs_sql_tokens: str) -> str:
    """DuckDB twin of :func:`unigram_viterbi_segments`."""

    def p_of(x: str) -> str:
        return f"COALESCE((SELECT p0 FROM voc WHERE piece = ({x})), 0.0)"

    parts = [
        f"""WITH w0 AS MATERIALIZED (
      SELECT substr(t, 1, {MAXLEN}) AS w, COUNT(*) AS wc
      FROM (SELECT unnest(toks) AS t FROM ({docs_sql_tokens}))
      GROUP BY 1
    )""",
        f"""occ AS MATERIALIZED (
      SELECT w, wc, substr(w, u.ik[1] - u.ik[2] + 1, u.ik[2]) AS q
      FROM w0, unnest({_OCC_DUCK}) AS u(ik)
    )""",
        "pc AS MATERIALIZED (SELECT q, SUM(wc) AS c FROM occ GROUP BY q)",
        f"""voc AS MATERIALIZED (
      SELECT q AS piece, c,
             CAST(c AS DOUBLE) / (SELECT SUM(c) FROM (
               SELECT c FROM pc WHERE len(q) = 1
               UNION ALL
               SELECT c FROM (SELECT c FROM pc WHERE len(q) >= 2
                              ORDER BY c DESC, q ASC LIMIT {VOCAB_MULTI})
             )) AS p0
      FROM (
        SELECT q, c FROM pc WHERE len(q) = 1
        UNION ALL
        SELECT q, c FROM (SELECT q, c FROM pc WHERE len(q) >= 2
                          ORDER BY c DESC, q ASC LIMIT {VOCAB_MULTI})
      )
    )""",
        "f0 AS MATERIALIZED (SELECT w, wc, len(w) AS l, 1.0 AS v0"
        " FROM w0)",
    ]
    prev = "f0"
    for i in range(1, MAXLEN + 1):
        ks = list(range(1, min(KMAX, i) + 1))
        t_defs = ", ".join(
            f"v{i - k} * {p_of(f'substr(w, {i - k + 1}, {k})')} AS t{k}_"
            for k in ks
        )
        v = (
            "greatest(" + ", ".join(f"t{k}_" for k in ks) + ")"
            if len(ks) > 1
            else "t1_"
        )
        l_arms = []
        for k in ks[:-1]:
            cond = " AND ".join(
                f"t{k}_ >= t{k2}_" for k2 in ks if k2 > k
            )
            l_arms.append(f"WHEN {cond} THEN {k}")
        l_expr = (
            ("CASE " + " ".join(l_arms) + f" ELSE {ks[-1]} END")
            if l_arms
            else str(ks[-1])
        )
        parts.append(f"""f{i} AS MATERIALIZED (
      SELECT * EXCLUDE ({", ".join(f"t{k}_" for k in ks)}),
             CASE WHEN {i} <= l THEN {v} ELSE 0.0 END AS v{i},
             {l_expr} AS l{i}
      FROM (SELECT *, {t_defs} FROM {prev})
    )""")
        prev = f"f{i}"
    parts.append(f"dp AS MATERIALIZED (SELECT *, l AS pos0 FROM {prev})")
    prev = "dp"
    for s in range(1, MAXLEN + 1):
        l_case = (
            f"CASE pos{s - 1} "
            + " ".join(f"WHEN {i} THEN l{i}" for i in range(1, MAXLEN + 1))
            + " END"
        )
        parts.append(f"""bt{s} AS MATERIALIZED (
      SELECT *,
             CASE WHEN pos{s - 1} > 0
                  THEN substr(w, pos{s - 1} - ({l_case}) + 1, {l_case})
             END AS piece{s},
             CASE WHEN pos{s - 1} > 0 THEN pos{s - 1} - ({l_case})
                  ELSE 0 END AS pos{s}
      FROM {prev}
    )""")
        prev = f"bt{s}"
    arr = (
        "["
        + ", ".join(f"piece{s}" for s in range(MAXLEN, 0, -1))
        + "]"
    )
    v_case = (
        "CASE l "
        + " ".join(f"WHEN {i} THEN v{i}" for i in range(1, MAXLEN + 1))
        + " END"
    )
    parts.append(f"""seg AS (
      SELECT w, wc,
             list_filter({arr}, x -> x IS NOT NULL) AS pieces,
             {v_case} AS best
      FROM {prev}
    )""")
    return (
        ",\n".join(parts)
        + """
    SELECT w, wc, CAST(len(pieces) AS BIGINT) AS n_pieces,
           array_to_string(pieces, ' ') AS seg,
           round(ln(best), 9) AS best_lp
    FROM seg
    """
    )
