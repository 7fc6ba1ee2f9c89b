"""Text expression builders: tokenization, full-text match, snippets,
token statistics, fingerprints.

All pure Column expressions (JVM-side, codegen-friendly). Semantics
mirror the reference engine's Postgres/Python text path:
  * tokenize    = ``re.findall(r"\\w+", s.lower())``
                  (reference backend/src/search.py:103)
  * ts_match    = Postgres ``to_tsvector(...) @@ to_tsquery(...)`` with
                  plain user terms — AND over query tokens, stemming
                  intentionally off for oracle parity (SURVEY.md §7.2)
                  (reference backend/src/search.py:61-62)
  * snippet     = window of ±max_len/2 chars around the first query
                  term hit, else a content prefix
                  (reference backend/src/search.py:102-112)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: ColumnOrName) -> Column:
    """Lowercased ``\\w+`` tokens as array<string> (empty tokens dropped)."""
    return F.filter(F.split(F.lower(_c(col)), r"\W+"), lambda t: t != "")


def _stem_token(t: Column) -> Column:
    """Simplified Porter step-1 stemmer as a pure expression: plural
    (sses→ss, ies→i, -s), -ing/-ed, trailing -e — enough to make
    "joining"/"joined"/"joins" all match "join". Length guards keep
    short tokens intact. MUST stay in lockstep with ``_stem_str``."""
    plural = (
        F.when(t.rlike("sses$"), F.regexp_replace(t, "sses$", "ss"))
        .when(t.rlike("ies$"), F.regexp_replace(t, "ies$", "i"))
        .when(t.rlike("ss$"), t)
        .when(t.rlike("..s$"), F.regexp_replace(t, "s$", ""))
        .otherwise(t)
    )
    verb = (
        F.when(plural.rlike("...ing$"), F.regexp_replace(plural, "ing$", ""))
        .when(plural.rlike("...ed$"), F.regexp_replace(plural, "ed$", ""))
        .otherwise(plural)
    )
    return F.when(verb.rlike("...e$"), F.regexp_replace(verb, "e$", "")).otherwise(verb)


def _stem_str(t: str) -> str:
    """Driver-side mirror of ``_stem_token`` for query terms."""
    if t.endswith("sses"):
        t = t[:-4] + "ss"
    elif t.endswith("ies"):
        t = t[:-3] + "i"
    elif t.endswith("ss"):
        pass
    elif t.endswith("s") and len(t) >= 3:
        t = t[:-1]
    if t.endswith("ing") and len(t) >= 6:
        t = t[:-3]
    elif t.endswith("ed") and len(t) >= 5:
        t = t[:-2]
    if t.endswith("e") and len(t) >= 4:
        t = t[:-1]
    return t


def ts_match(col: ColumnOrName, query: str, stem: bool = False) -> Column:
    """True iff every ``\\w+`` token of ``query`` appears as a token of
    the target string (AND semantics of single-term to_tsquery).

    ``stem=True`` (SURVEY.md §7 decision 2) stems BOTH sides with the
    simplified Porter rules above, approximating Postgres's
    ``to_tsquery('english', ...)`` behavior; OFF by default so oracle
    SQL stays expressible token-for-token in DuckDB."""
    import re

    terms = [t for t in re.findall(r"\w+", query.lower()) if t]
    if not terms:
        return F.lit(True)
    toks = tokenize(col)
    if stem:
        terms = [_stem_str(t) for t in terms]
        toks = F.transform(toks, _stem_token)
    return bind_once(
        toks,
        lambda arr: F.forall(F.array(*[F.lit(t) for t in terms]),
                             lambda t: F.array_contains(arr, t)))


def bind_once(arr: Column, pred) -> Column:
    """Evaluate ``arr`` exactly once and hand the bound value to
    ``pred`` as a higher-order-function lambda variable.

    Spark HOFs are interpreted (CodegenFallback) and a lambda body's
    captured OUTER expressions are re-evaluated on every reference —
    so a predicate that mentions a tokenization expression k times
    re-tokenizes the row k times, and a phrase node's per-position
    ``get`` turns that into O(positions) re-tokenizations per row
    (measured 9.8s → 0.5s on sf0.1 documents for a 2-phrase tsquery).
    ``transform`` over the 1-element array ``array(arr)`` binds the
    value to a NamedLambdaVariable, making every reference inside
    ``pred`` a cheap variable read; ``get(..., 0)`` unwraps the
    1-element result, so ``pred`` may return ANY type (not just
    boolean). NULL input keeps NULL-ish semantics: pred(NULL) yields
    NULL and the unwrap propagates it, same as the unbound form."""
    return F.get(F.transform(F.array(arr), pred), 0)


def top_element_count(arr: Column) -> Column:
    """Occurrence count of the most frequent element of a STRING
    array: ``array_sort`` + one ``aggregate`` pass tracking
    (prev, run, best) — equal elements are adjacent after the sort,
    so the max run length IS the max frequency. O(n log n) per row,
    replacing the O(distinct·n) transform/filter formulation
    (review-found: a 100k-token degenerate-repetition document —
    exactly what Gopher's repetition filter exists to catch — cost
    ~1e10 comparisons on one row, one task). Returns 0 for an empty
    array; NULL input propagates NULL (same as the old form's
    array_max-over-empty, callers coalesce); NULL ELEMENTS are
    dropped before counting, matching the transform/filter form it
    replaced (``x == NULL`` is never true, so NULLs were never the
    top element — review-found: a raw eqNullSafe run would have
    counted them). Property-tested equal to the quadratic form on
    random and adversarial docs (tests/test_curation.py)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
            F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"))

    vals = F.array_sort(F.filter(arr, lambda x: x.isNotNull()))
    return F.aggregate(vals, zero, step, lambda a: a["best"])


def _tsquery_parse(query: str):
    """Parse the Postgres ``to_tsquery`` operator subset — ``&`` ``|``
    ``!``, the phrase operators ``<->`` / ``<N>``, parentheses and the
    prefix marker ``term:*`` — into an AST of nested tuples. Precedence
    (loosest→tightest): ``|``, ``&``, ``<->``, ``!``, matching Postgres
    (reference backend/src/search.py:63 passes raw tsquery strings
    straight to ``to_tsquery``; SURVEY.md §7 decision 2 scoped the
    grammar out originally — this is the subset a user porting real
    tsquery strings would hit). Phrase nodes are ``("phrase", N, a,
    b)`` = b's match position exactly N tokens after a's (``<->`` ≡
    ``<1>``)."""
    import re

    toks = re.findall(r"\w+:\*|\w+|<->|<\d+>|[&|!()]", query.lower())
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        t = peek()
        if t is None or (expected is not None and t != expected):
            raise ValueError(
                f"tsquery syntax error at token {pos} in {query!r}"
            )
        pos += 1
        return t

    def parse_or():
        node = parse_and()
        while peek() == "|":
            take()
            node = ("or", node, parse_and())
        return node

    def parse_and():
        node = parse_phrase()
        while peek() == "&":
            take()
            node = ("and", node, parse_phrase())
        return node

    def parse_phrase():
        node = parse_not()
        while (t := peek()) is not None and t.startswith("<"):
            take()
            dist = 1 if t == "<->" else int(t[1:-1])
            node = ("phrase", dist, node, parse_not())
        return node

    def parse_not():
        if peek() == "!":
            take()
            return ("not", parse_not())
        return parse_primary()

    def parse_primary():
        t = peek()
        if t == "(":
            take()
            node = parse_or()
            take(")")
            return node
        t = take()
        if t in {"&", "|", ")", "!"} or t.startswith("<"):
            raise ValueError(f"tsquery syntax error: unexpected {t!r}")
        if t.endswith(":*"):
            return ("prefix", t[:-2])
        return ("term", t)

    if not toks:
        return None
    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"tsquery trailing tokens in {query!r}")
    return node


def _phrase_positional(node, toks: Column, stem: bool):
    """Compile a phrase operand to ``anchored_at(i)``: does this node
    match with its ANCHOR at 0-based token index ``i``? Following
    Postgres, a phrase match's anchor is the position of its RIGHTMOST
    operand — so ``a <N> b`` anchored at ``i`` means b matches at
    ``i`` and a's anchor is at ``i - N`` (that's how ``a <-> b <-> c``
    matches the 3-token run "a b c": each link constrains adjacent
    anchors). Out-of-range ``F.get`` yields NULL → coalesced to False.
    ``&``/``!`` inside a phrase raise loudly rather than guessing
    Postgres's rewrite semantics for them."""
    kind = node[0]
    if kind == "term":
        t = _stem_str(node[1]) if stem else node[1]
        return lambda i: F.coalesce(F.get(toks, i) == F.lit(t),
                                    F.lit(False))
    if kind == "prefix":
        p = node[1]
        return lambda i: F.coalesce(F.get(toks, i).startswith(p),
                                    F.lit(False))
    if kind == "or":
        fa = _phrase_positional(node[1], toks, stem)
        fb = _phrase_positional(node[2], toks, stem)
        return lambda i: fa(i) | fb(i)
    if kind == "phrase":
        dist = node[1]
        fa = _phrase_positional(node[2], toks, stem)
        fb = _phrase_positional(node[3], toks, stem)
        return lambda i: fb(i) & fa(i - F.lit(dist))
    raise ValueError(
        f"tsquery: {kind!r} operand not supported inside <-> phrases")


def _tsquery_compile(node, toks: Column, stem: bool) -> Column:
    kind = node[0]
    if kind == "term":
        t = _stem_str(node[1]) if stem else node[1]
        return F.array_contains(toks, t)
    if kind == "prefix":
        # prefixes are matched verbatim, never stemmed — stemming a
        # user-written prefix would silently change which tokens it
        # covers ("merg:*" stemmed could stop matching "merges")
        return F.exists(toks, lambda t: t.startswith(node[1]))
    if kind == "not":
        return ~_tsquery_compile(node[1], toks, stem)
    if kind == "phrase":
        # existential over anchor positions: one pass over the token
        # array per phrase, all inside codegen (transform + exists
        # HOFs) — no shuffle, no Python
        fn = _phrase_positional(node, toks, stem)
        return F.exists(F.transform(toks, lambda _t, i: fn(i)),
                        lambda x: x)
    a = _tsquery_compile(node[1], toks, stem)
    b = _tsquery_compile(node[2], toks, stem)
    return (a & b) if kind == "and" else (a | b)


def ts_match_query(col: ColumnOrName, query: str, stem: bool = False) -> Column:
    """Full-text match with the tsquery operator grammar: ``&`` ``|``
    ``!``, phrase operators ``<->`` / ``<N>`` (b exactly N token
    positions after a), parentheses, and prefix terms ``foo:*``. A
    plain term list (no operators) degrades to ``ts_match``'s AND
    semantics only if joined with ``&`` — bare adjacent terms are a
    syntax error, exactly as in Postgres ``to_tsquery``. Pure Column
    expression (codegen); ``stem=True`` stems plain terms on both
    sides (prefix terms stay verbatim)."""
    ast = _tsquery_parse(query)
    if ast is None:
        return F.lit(True)
    toks = tokenize(col)
    if stem:
        toks = F.transform(toks, _stem_token)
    return bind_once(toks, lambda arr: _tsquery_compile(ast, arr, stem))


def snippet(content: ColumnOrName, query: str, max_len: int = 200) -> Column:
    """Reference snippet rule: find the first query term in the lowered
    content; emit "... <±max_len/2 window> ..."; if no term hits, emit
    the first max_len chars + "..." (search.py:102-112)."""
    import re

    c = _c(content)
    half = max_len // 2
    terms = [t for t in re.findall(r"\w+", query.lower()) if t]
    if terms:
        # 1-based position of the first term that occurs, else NULL
        pos = F.coalesce(
            *[F.nullif(F.locate(t, F.lower(c)), F.lit(0)) for t in terms]
        )
    else:
        pos = F.lit(None).cast("int")
    start = F.greatest(pos - half, F.lit(1))
    windowed = F.concat(F.lit("... "), F.trim(F.substring(c, start, max_len)), F.lit(" ..."))
    fallback = F.concat(F.substring(c, 1, max_len), F.lit("..."))
    return F.when(pos.isNotNull(), windowed).otherwise(fallback)


def token_count(col: ColumnOrName) -> Column:
    """Whitespace-delimited token count."""
    return F.size(F.filter(F.split(_c(col), r"\s+"), lambda t: t != ""))


def word_token_count(col: ColumnOrName) -> Column:
    """``\\w+`` token count (a BPE-ish proxy: words + numbers)."""
    return F.size(tokenize(col))


def fingerprint(col: ColumnOrName) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercase text. Identical output in DuckDB (md5 hex lowercase)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " ")))


def char_ngrams(col: ColumnOrName, n: int) -> Column:
    """All character n-grams of the string as array<string> (may repeat).

    Guarded: Spark's ``sequence(1, stop)`` DESCENDS when stop < 1, so a
    too-short string must short-circuit to an empty array."""
    c = _c(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: F.substr(c, i, F.lit(n)),
    )
    return F.when(F.length(c) >= n, grams).otherwise(F.array().cast("array<string>"))


def word_shingles(col: ColumnOrName, k: int) -> Column:
    """All k-word shingles (space-joined) of the tokenized string.
    Same descending-sequence guard as char_ngrams.

    Built as a zip_with fold over k shifted slices, NOT as a
    transform-with-slice lambda: indexing back into the ``tokenize``
    expression from inside a lambda makes Catalyst re-evaluate the
    whole tokenizer PER POSITION (CollapseProject inlines the alias),
    i.e. O(len²) per document. The fold evaluates the tokenizer a
    constant ~2k times per row — same output, measured ~9× faster on
    the shingle-heavy dedup family at sf0.1. (char_ngrams is safe:
    its lambda indexes a plain column reference, not a computed
    expression.)"""
    toks = tokenize(col)
    n = F.size(toks)
    shingles = F.slice(toks, 1, n - (k - 1))
    for j in range(1, k):
        shingles = F.zip_with(
            shingles,
            F.slice(toks, j + 1, n - (k - 1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, shingles).otherwise(F.array().cast("array<string>"))


def strip_boilerplate(
    col: ColumnOrName,
    min_len: int = 35,
    max_upper_ratio: float = 0.3,
) -> Column:
    """Main-content extraction over a line-structured page: keep a line
    iff it looks like prose, drop the nav/promo/cookie/footer chrome
    around it (the jusText / trafilatura line-density heuristic, cut to
    the signals expressible as pure JVM columns — no UDF, stays inside
    whole-stage codegen except the HOF filter itself).

    A line survives only if ALL hold:
      * length ≥ ``min_len`` (nav items, buttons, cookie banners are
        short);
      * no ``" | "`` separator (pipe-delimited link bars);
      * uppercase ratio ≤ ``max_upper_ratio`` (ALL-CAPS promo/menu
        lines);
      * does not open with a copyright mark (``©`` / ``(c)``).

    Scale: a per-row projection — no shuffle, no Python; output size ≤
    input size, so partition sizing is untouched. Empty/NULL input
    yields ''/NULL respectively (array_join over NULL propagates)."""
    lines = F.split(_c(col), "\n")

    def is_content(line: Column) -> Column:
        n = F.length(line)
        n_upper = F.length(F.regexp_replace(line, "[^A-Z]", ""))
        return (
            (n >= F.lit(min_len))
            & ~line.contains(" | ")
            & ~line.startswith("©")
            & ~line.startswith("(c)")
            & (n_upper.cast("double")
               <= F.lit(max_upper_ratio) * n.cast("double"))
        )

    return F.array_join(F.filter(lines, is_content), "\n")


def drop_frequent_lines(
    df,
    page_col: ColumnOrName,
    id_col: str = "doc_id",
    threshold: int = 5,
    broadcast_dropset: bool = True,
):
    """CCNet corpus-frequency line dedup (Wenzek et al. 2020) as a
    reusable DataFrame → DataFrame operator: drop every line whose
    occurrence count ACROSS THE CORPUS exceeds ``threshold``
    (boilerplate repeats on every page of a site, prose doesn't), and
    reassemble each page's surviving lines in original order. Returns
    ``(id_col, main_content)``.

    SKEW-SAFE BY CONSTRUCTION — the hottest key is, by the operator's
    own premise, the boilerplate line present on a huge fraction of
    all pages, so any plan that co-locates every copy of a line in one
    task (``Window.partitionBy(line)`` — WindowExec gets NO partial
    aggregation) melts at 100 TB. The frequency pass is
    ``groupBy(line).count()``: partial aggregation collapses a hot
    line to ONE row per map partition before the line shuffle, the
    tiny over-threshold drop-set (the corpus's boilerplate vocabulary,
    ≤ total_lines/threshold distinct values) broadcasts, and kept
    lines flow through a broadcast LEFT ANTI join. Two shuffles total
    (map-side-combined line count, id regroup); plan-locked in
    tests/test_plan_shapes.py and behavior-pinned on a synthetic
    hot-line corpus in tests/test_curation.py. If the drop-set ever
    outgrew a broadcast, pass ``broadcast_dropset=False`` to pay one
    more shuffle — never a skewed window.

    CARDINALITY CONTRACT: output rows ⊆ input rows — a page whose
    EVERY line is corpus-frequent (a pure nav/footer page, common in
    real crawls) has no surviving lines and contributes NO output row,
    matching the SQL regroup semantics. Callers that must keep such
    pages as empties should left-join the result back onto their id
    set."""
    lines = df.select(
        id_col, F.posexplode(F.split(_c(page_col), "\n")).alias("pos", "line")
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > threshold)
        .select("line")
    )
    if broadcast_dropset:
        hot = F.broadcast(hot)
    kept = lines.join(hot, "line", "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("main_content")
    )
