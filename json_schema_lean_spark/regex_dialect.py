"""Python-re -> Java-regex transpiler for the columnar paths (VERDICT r1 #5).

The engine's semantic source of truth for the ``pattern`` keyword is Python's
``re.search`` (the interpreter path; the Lean reference has no regex library
— /root/reference/NOTE.md lists ECMA-regex conversion as its hardest open
problem, and the official pattern suites are NOT in its 100% gate). The
columnar/variant paths execute patterns with ``regexp_like`` = java.util.regex,
whose dialect differs from Python in ways that silently flip verdicts:

================  ==========================  ===========================
construct          Python ``re`` (str)         Java ``Pattern`` (default)
================  ==========================  ===========================
``.``              anything except ``\n``      anything except ALL line
                                               terminators (\\n \\r \\x85
                                               \\u2028 \\u2029)
``$``              end, or before a trailing   before a final line
                   ``\n``                      terminator incl. ``\r\n``
``\\d``            Unicode category Nd         ASCII ``[0-9]``
``\\w \\s \\b``    Unicode-aware               ASCII-only
``[a&&b]``         literal ``&``s              class intersection
``[a[b]]``         literal ``[``               nested class union
``{,n}``           ``{0,n}``                   literal text
``\\v``            vertical tab \\x0B          vertical-whitespace class
``\\Z``            absolute end                end before final terminator
================  ==========================  ===========================

:func:`to_java_regex` walks the pattern once and returns a Java pattern with
IDENTICAL match semantics (rewriting ``.`` -> ``[^\\n]``, ``$`` ->
``(?=\\n?\\z)``, ``\\d`` -> explicit code-point ranges, ``\\Z`` -> ``\\z``, ``{,n}`` ->
``{0,n}``, escaping ``[``/``&&`` inside classes, …) or ``None`` when exact
transpilation isn't known-safe (``\\w \\s \\b \\B \\N{}``, embedded flags,
named groups, conditionals, octal escapes) — those patterns route to the
Arrow interpreter, which IS Python re. A hypothesis differential
(tests/test_regex_dialect.py) fuzzes accepted patterns against ``re.search``
through a real Spark ``regexp_like``.
"""

from __future__ import annotations

import functools
import re
from typing import Optional

#: ``(?`` prefixes with identical semantics in both dialects (lookbehinds in
#: Python must be fixed-width, a subset of Java's bounded lookbehinds)
_SAFE_GROUP_PREFIXES = ("(?:", "(?=", "(?!", "(?<=", "(?<!")

#: escapes copied through verbatim (same meaning in both dialects)
_VERBATIM_ESCAPES = set("\\.^$|?*+()[]{}/-&~#@%:;'\"`!<>= \t,_")
_VERBATIM_LETTER_ESCAPES = set("nrtfAxu")  # \n \r \t \f \A \xHH \uHHHH

#: escapes with no exact Java equivalent -> Arrow fallback
_REJECT_ESCAPES = set("wWsSbBNLaC")  # \b is contextual (see class handling)


@functools.cache
def _digit_ranges() -> str:
    """Python's ``\\d`` as Java class ranges, taken from ``re`` itself: the
    JVM's ``\\p{Nd}`` follows its own Unicode version (OpenJDK 17 lacks
    the Tangsa digits U+16AC0-U+16AC9 that Python 3.11's ``\\d`` has)."""
    every = "".join(map(chr, range(0x110000)))
    return "".join("\\x{%x}-\\x{%x}" % (ord(m.group()[0]), ord(m.group()[-1]))
                   for m in re.finditer(r"\d+", every))


def _digit_class(negated: bool, in_class: bool) -> str:
    """``\\d`` / ``\\D``; inside a class ``\\d`` joins the enclosing class
    and ``\\D`` becomes a nested negated class (a union in Java)."""
    if in_class and not negated:
        return _digit_ranges()
    return ("[^%s]" if negated else "[%s]") % _digit_ranges()


def to_java_regex(pattern: str) -> Optional[str]:
    """Java-dialect pattern matching Python ``re.search`` semantics exactly,
    or None when the pattern must fall back to the interpreter."""
    import warnings
    try:
        with warnings.catch_warnings():
            # Python warns about future set-ops for [a&&b] etc; we transpile
            # those to their current literal semantics explicitly below
            warnings.simplefilter("ignore", FutureWarning)
            re.compile(pattern)
    except re.error:
        return None

    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\":
            if i + 1 >= n:
                return None
            e = pattern[i + 1]
            if e in "dD":
                out.append(_digit_class(e == "D", in_class))
                i += 2
                continue
            if e == "Z":
                if in_class:
                    return None
                out.append("\\z")              # Python \Z = absolute end
                i += 2
                continue
            if e == "v":
                out.append("\\x0B")            # Java \v is a CLASS
                i += 2
                continue
            if e == "b" and in_class:
                out.append("\\x08")            # [\b] = backspace in Python
                i += 2
                continue
            if e == "U":
                m = re.match(r"\\U([0-9a-fA-F]{8})", pattern[i:])
                if not m:
                    return None
                out.append("\\x{%x}" % int(m.group(1), 16))
                i += m.end()
                continue
            if e in _REJECT_ESCAPES:
                return None                     # \w \s \b \B \N{..} flags etc
            if e.isdigit():
                if e == "0" or in_class:
                    return None                 # octal / in-class backrefs
                if i + 2 < n and pattern[i + 2].isdigit():
                    # multi-digit sequences hit Python's backref-vs-octal
                    # ambiguity rules, which Java does not share — be safe
                    return None
                out.append(c + e)               # backreference: same meaning
                i += 2
                continue
            if e in _VERBATIM_ESCAPES or e in _VERBATIM_LETTER_ESCAPES:
                out.append(c + e)
                i += 2
                continue
            return None                         # unknown escape: be safe
        if in_class:
            if c == "]":
                in_class = False
                out.append(c)
            elif c == "[":
                out.append("\\[")               # literal in Python, nested
            elif c == "&" and i + 1 < n and pattern[i + 1] == "&":
                out.append("\\&\\&")            # literal in Python, Java ∩
                i += 2
                continue
            else:
                out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            out.append(c)
            i += 1
            if i < n and pattern[i] == "^":
                out.append("^")
                i += 1
            if i < n and pattern[i] == "]":
                out.append("\\]")               # leading ] is literal in Python
                i += 1
            continue
        if c == ".":
            out.append("[^\\n]")                # Python . excludes only \n
            i += 1
            continue
        if c == "$":
            out.append("(?=\\n?\\z)")           # end or before one trailing \n
            i += 1
            continue
        if c == "(" and pattern[i:i + 2] == "(?":
            for p in _SAFE_GROUP_PREFIXES:
                if pattern.startswith(p, i):
                    out.append(p)
                    i += len(p)
                    break
            else:
                return None                     # flags, (?P, (?#, (?>, (?(..
            continue
        if c == "{":
            m = re.match(r"\{,(\d+)\}", pattern[i:])
            if m:
                out.append("{0,%s}" % m.group(1))   # Java reads {,n} literally
                i += m.end()
                continue
            if re.match(r"\{\d+(,\d*)?\}", pattern[i:]):
                out.append(c)                       # real quantifier: copy
                i += 1
                continue
            out.append("\\{")                       # literal '{' in Python;
            i += 1                                  # Java throws on bare '{'
            continue
        out.append(c)
        i += 1
    if in_class:
        return None
    return "".join(out)


def java_regex_exact(pattern: str) -> bool:
    """True when the pattern transpiles to an exactly-equivalent Java
    pattern (callers then use :func:`to_java_regex`'s output with
    ``regexp_like``)."""
    return to_java_regex(pattern) is not None
