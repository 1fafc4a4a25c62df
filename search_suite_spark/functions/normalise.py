"""Unicode tokenizer with exact parity to the reference engine.

Reference semantics (/root/reference/indexer-qp2/src/normalise.rs:13-42,
golden cases /root/reference/indexer-qp2/test/normalise_tests.rs:7-81):

  1. Group consecutive chars into runs of the same class:
     Alpha (Unicode general category L*: Lu Ll Lt Lm Lo — Rust
     ``char::is_alphabetic``), Num (Nd Nl No — Rust ``char::is_numeric``),
     Other (everything else).  Alpha is checked first, so chars in both
     (e.g. CJK numerals, category Lo) classify as Alpha, matching Rust.
  2. Num runs are emitted as a single term, verbatim.
  3. Other runs are dropped.
  4. Alpha runs are *deagglutinated*: split at every lower→upper boundary
     (camelCase); every group is lowercased; quirk kept for parity
     (normalise.rs:38): when emitting the group at index 1, the whole run
     (lowercased) is emitted first — ``helloWorld`` →
     ``[hello, helloworld, world]``.

The ASCII fast path is pure-regex; the general path is a per-char loop
using ``unicodedata``.  Both are golden-tested against the Rust cases.
Spark sees the same tokenizer as a Catalyst expression (tokens_column).
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

_ASCII_RUNS = re.compile(r"[A-Za-z]+|[0-9]+")
_ASCII_CAMEL = re.compile(r"(?<=[a-z])(?=[A-Z])")
_ASCII_LOWER_ONLY = re.compile(r"[a-z0-9]+")

_ALPHA_CATS = frozenset({"Lu", "Ll", "Lt", "Lm", "Lo"})
_NUM_CATS = frozenset({"Nd", "Nl", "No"})


@lru_cache(maxsize=65536)
def _char_type(c: str) -> str:
    cat = unicodedata.category(c)
    if cat in _ALPHA_CATS:
        return "a"
    if cat in _NUM_CATS:
        return "n"
    return "o"


def _deagglutinate_groups(groups: list[str], whole: str) -> list[str]:
    # normalise.rs:35-42 — at i==1 emit the whole lowered word first
    out: list[str] = []
    for i, g in enumerate(groups):
        if i == 1:
            out.append(whole.lower())
        out.append(g.lower())
    return out


def _deagglutinate_alpha(s: str) -> list[str]:
    groups: list[str] = []
    start = 0
    prev = s[0]
    for i in range(1, len(s)):
        c = s[i]
        if prev.islower() and c.isupper():
            groups.append(s[start:i])
            start = i
        prev = c
    groups.append(s[start:])
    if len(groups) == 1:
        return [s.lower()]
    return _deagglutinate_groups(groups, s)


def _normalise_general(s: str) -> list[str]:
    out: list[str] = []
    run_start = 0
    run_type = ""
    for i, c in enumerate(s):
        t = _char_type(c)
        if t != run_type:
            if run_type == "a":
                out.extend(_deagglutinate_alpha(s[run_start:i]))
            elif run_type == "n":
                out.append(s[run_start:i])
            run_start = i
            run_type = t
    if run_type == "a":
        out.extend(_deagglutinate_alpha(s[run_start:]))
    elif run_type == "n":
        out.append(s[run_start:])
    return out


def _normalise_ascii(s: str) -> list[str]:
    out: list[str] = []
    for run in _ASCII_RUNS.findall(s):
        if run[0].isdigit():
            out.append(run)
            continue
        groups = _ASCII_CAMEL.split(run)
        if len(groups) == 1:
            out.append(run.lower())
        else:
            out.extend(_deagglutinate_groups(groups, run))
    return out


def normalise(s: str) -> list[str]:
    """Tokenize one string exactly as the reference engine does."""
    if not s:
        return []
    if s.isascii():
        # common web-text fast path: already-lowercase alnum + separators
        return _normalise_ascii(s)
    return _normalise_general(s)


# ---------------------------------------------------------------------------
# JVM-side (Catalyst) tokenizer — the index-build hot path
# ---------------------------------------------------------------------------
#
# Same semantics as normalise() above, expressed entirely in Spark SQL
# built-ins (regexp + higher-order array functions) so the build's tokenize
# stage runs inside whole-stage codegen with NO Python workers.  Why this
# matters for the north_rule scaling gate: a mapInPandas tokenizer occupies
# both an executor task thread (Arrow encode/decode) and a Python worker
# process per task — at N cores the job really consumes ~2N cores of host
# capacity, so going N → 4N cores on a fixed-size host can never show 4x.
# A codegen'd tokenizer uses exactly one core per task and scales with the
# task count.
#
# Category parity (vs the Python/Rust classes above):
#   alpha run  = \p{L}+  (Java L family == {Lu,Ll,Lt,Lm,Lo})
#   num run    = \p{N}+  (Java N family == {Nd,Nl,No})
#   camelCase boundary = (?<=\p{javaLowerCase})(?=\p{javaUpperCase}) —
#     java.lang.Character.isLowerCase/isUpperCase match Python's
#     str.islower()/isupper() single-char behaviour (Unicode
#     Lowercase/Uppercase properties).
# Parity is enforced by tests/test_normalise.py::test_sql_tokenizer_parity
# over the golden reference cases, the test corpus, and hypothesis-random
# unicode strings.

_SQL_RUNS_PATTERN = r"[\p{L}]+|[\p{N}]+"
_SQL_BOUNDARY = r"(?<=\p{javaLowerCase})(?=\p{javaUpperCase})"
# adjacency probe (no lookarounds): a run deagglutinates iff a lowercase
# char is immediately followed by an uppercase char somewhere in it
_SQL_HAS_BOUNDARY = r"\p{javaLowerCase}\p{javaUpperCase}"
_NUL = " "


def tokens_column(*cols):
    """Column expr: tokenize one or more string columns (url then body,
    doc.rs:65-93 order — order only matters for readers; tf counting is
    order-free) into one array<string> of terms, fully JVM-side.

    The inputs are joined with a single space (class Other ⇒ a run never
    spans the boundary), so tokens(concat) == tokens(a) ++ tokens(b).
    """
    from pyspark.sql import functions as F

    s = cols[0] if len(cols) == 1 else F.concat_ws(" ", *cols)
    runs = F.regexp_extract_all(s, F.lit(_SQL_RUNS_PATTERN), F.lit(0))

    # normalise.rs:35-42 quirk: when an alpha run splits, the whole run
    # (lowercased) is emitted at position 1: [g0, whole, g1, g2, ...].
    # The cheap adjacency probe (rlike, no capture/replace/alloc) guards
    # the expensive path: most web-text runs are all-lowercase or numeric
    # and take the single-array branch, skipping the regexp_replace +
    # split + slice machinery entirely — tokenize is the build's widest
    # codegen stage, so per-run allocations are the cost that matters.
    def explode_run(r):
        g = F.split(F.regexp_replace(r, _SQL_BOUNDARY, _NUL), _NUL)
        return F.concat(
            F.array(F.lower(F.element_at(g, 1)), F.lower(r)),
            F.transform(F.slice(g, 2, F.size(g) - 1), F.lower),
        )

    return F.flatten(
        F.transform(
            runs,
            lambda r: F.when(
                r.rlike(_SQL_HAS_BOUNDARY), explode_run(r)
            ).otherwise(F.array(F.lower(r))),
        )
    )
