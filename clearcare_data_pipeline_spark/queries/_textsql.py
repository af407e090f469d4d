"""Shared DuckDB-SQL text-tokenization snippets — the oracle side of
the engine's whitespace convention, with the regex class EXPLICIT.

Why explicit (r12 finding): the engine tokenizes with Java regexes
(``F.split(col, r"\\s+")`` etc.), and Java's default ``\\s`` is the
ASCII class ``[ \\t\\n\\x0B\\f\\r]`` — it INCLUDES vertical tab
U+000B. DuckDB's regex engine is RE2, whose ``\\s`` is
``[ \\t\\n\\f\\r]`` — it EXCLUDES U+000B. Both engines agree on every
other probed class member (form feed splits in both; NBSP, LINE
SEPARATOR, EM SPACE split in neither — pinned in
tests/test_ws_convention.py). So oracles written with a bare ``\\s``
silently disagree with the engine on any text containing a vertical
tab. The gated synthetic corpora contain zero U+000B anywhere (scan
receipt in git history: f55ca19:.r12state/vt_scan.json), which is why the divergence never
tripped a gate — but the oracle's job is to pin the ENGINE's
semantics, not RE2's, so every oracle now spells the Java class out.

The engine side needs no change: Java's ``\\s`` IS this class. Keep
using ``r"\\s+"`` in Spark code; use these snippets in oracle SQL.
"""

from __future__ import annotations

# Java \s, spelled out for RE2. In SQL string literals the backslash
# escapes reach RE2 verbatim (DuckDB strings are not escape-processed),
# and RE2 resolves \t \n \x0B \f \r inside the class.
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
WS_PLUS = WS_CLASS + "+"

# Java \w is ASCII [0-9A-Za-z_] and RE2 agrees, but spell the combined
# punctuation complement out too so no bare class remains in oracles.
NON_WORD_NON_WS_CLASS = "[^0-9A-Za-z_ \\t\\n\\x0B\\f\\r]"

# BPE-ish tokenizer alternation (textstats.py n_bpe_tokens): letter
# runs, digit runs, single non-alnum-non-ws symbols. The symbol class
# excludes underscore (unlike NON_WORD_NON_WS_CLASS) to match the
# engine regex exactly.
NON_ALNUM_NON_WS_CLASS = "[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|" + NON_ALNUM_NON_WS_CLASS

# DuckDB twin of Spark's trim (r13 finding): Spark F.trim strips
# ONLY 0x20; DuckDB's bare one-arg trim also strips Unicode
# space-class characters (NBSP U+00A0, EM SPACE U+2003, ...), so a
# leading/trailing Zs char silently diverges the engines. The two-arg
# form pins the character set. Parity per character in
# tests/test_ws_convention.py. Vacuous on the pure-ASCII gated
# corpora — same defense-in-depth class as the U+000B fix above.
def trim_sql(expr: str) -> str:
    return f"trim({expr}, ' ')"


# Whitespace-squeezed lowercase md5 fingerprint of `text` — the DuckDB
# twin of operators/textstats.fingerprint_expr.
FINGERPRINT_SQL = (
    "md5(regexp_replace(lower(trim(text, ' ')), '" + WS_CLASS + "+', ' ', 'g'))"
)

# Payer "Name [id]" split (functions/text.split_payer_name_id): both
# engines run these verbatim, so the trailing-whitespace star uses the
# explicit Java class.
PAYER_SPLIT_RE = "^.*\\[.*?\\]" + WS_CLASS + "*$"
PAYER_EXTRACT_RE = "^(.*)\\[(.*?)\\]" + WS_CLASS + "*$"


# DuckDB twin of schema.ALGORITHM_INVALID_REGEX (^[0-9$%\s]+$, run
# through Java rlike on the Spark side): same class, \s expanded, so
# RE2 reads what Java means. Keep in sync with schema.py by meaning,
# not bytes — tests/test_ws_convention.py pins the per-char parity.
ALGORITHM_INVALID_RE2 = "^[0-9$% \\t\\n\\x0B\\f\\r]+$"


def split_ws_sql(expr: str) -> str:
    """``string_split_regex(<expr>, <java \\s>+)``."""
    return f"string_split_regex({expr}, '{WS_PLUS}')"


def words_sql(expr: str = "trim(text, ' ')") -> str:
    """Non-empty whitespace tokens of ``expr`` — the DuckDB twin of
    operators/textstats.words_expr."""
    return f"list_filter({split_ws_sql(expr)}, t -> length(t) > 0)"


WORDS_SQL = words_sql()
