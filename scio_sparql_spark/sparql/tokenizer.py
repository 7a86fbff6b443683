"""SPARQL / Turtle tokenizer.

The reference delegates parsing to rdf4j's SPARQL parser
(reference: Interpreter.scala:196-203); no rdf4j exists here, so we
tokenize/parse ourselves. Grammar follows the public W3C SPARQL 1.1 /
Turtle specs (EBNF in spec §19.8).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass(frozen=True)
class Tok:
    kind: str
    value: str
    pos: int


# Name characters, SPARQL 1.1 grammar [164]-[166] and [168] (regex
# character-class bodies)
PN_CHARS_BASE = (
    r"A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF\u0370-\u037D\u037F-\u1FFF"
    r"\u200C-\u200D\u2070-\u218F\u2C00-\u2FEF\u3001-\uD7FF\uF900-\uFDCF\uFDF0-\uFFFD"
    r"\U00010000-\U000EFFFF"
)
PN_CHARS_U = PN_CHARS_BASE + "_"
_NAME_TAIL = PN_CHARS_U + r"0-9\u00B7\u0300-\u036F\u203F-\u2040"  # VARNAME after the first
PN_CHARS = _NAME_TAIL + r"\-"
VARNAME = f"[{PN_CHARS_U}0-9][{_NAME_TAIL}]*"
_PLX = r"%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%]"

_TOKEN_RES = [
    ("WS", re.compile(r"[ \t\r\n]+")),
    ("COMMENT", re.compile(r"#[^\n]*")),
    ("IRIREF", re.compile(r"<([^<>\"{}|^`\\\x00-\x20]*)>")),
    ("STRING", re.compile(
        r'"""((?:[^"\\]|\\.|"(?!""))*)"""'
        r"|'''((?:[^'\\]|\\.|'(?!''))*)'''"
        r'|"((?:[^"\\\n]|\\.)*)"'
        r"|'((?:[^'\\\n]|\\.)*)'"
    )),
    ("BLANK", re.compile(f"_:([{PN_CHARS_U}0-9](?:[{PN_CHARS}.]*[{PN_CHARS}])?)")),
    ("VAR", re.compile(f"[?$]({VARNAME})")),
    ("LANGTAG", re.compile(r"@([A-Za-z]+(?:-[A-Za-z0-9]+)*)")),
    # DECIMAL requires digits after the dot (spec [79]): '1.' must stay
    # NUMBER '1' + OP '.' so Turtle statements ending "... 1 ." parse.
    ("NUMBER", re.compile(r"(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?")),
    # PNAME: optional prefix part, ':', optional local part. Both may
    # contain dots but not end with one (spec PN_PREFIX, PN_LOCAL), so
    # "ex:o." is the name "ex:o" and a statement dot.
    ("PNAME", re.compile(
        f"([{PN_CHARS_U}](?:[{PN_CHARS}.]*[{PN_CHARS}])?)?:"
        f"((?:[{PN_CHARS_U}0-9]|{_PLX})(?:(?:[{PN_CHARS}.]|{_PLX})*(?:[{PN_CHARS}]|{_PLX}))?)?"
    )),
    ("KEYWORD", re.compile(r"[A-Za-z_][A-Za-z0-9_]*")),
    ("OP", re.compile(r"\^\^|&&|\|\||!=|<=|>=|[{}()\[\];,.=<>!+\-*/|^?@]")),
]

_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def unescape_string(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "u" and i + 5 < len(s) + 1:
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if n == "U":
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(_ESCAPES.get(n, n))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def unescape_local(s: str) -> str:
    return re.sub(r"\\([_~.\-!$&'()*+,;=/?#@%])", r"\1", s)


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(text)
    while i < n:
        for kind, rx in _TOKEN_RES:
            m = rx.match(text, i)
            if not m:
                continue
            if kind == "IRIREF":
                toks.append(Tok("IRIREF", m.group(1), i))
            elif kind == "STRING":
                raw = next(g for g in m.groups() if g is not None)
                toks.append(Tok("STRING", unescape_string(raw), i))
            elif kind == "BLANK":
                toks.append(Tok("BLANK", m.group(1), i))
            elif kind == "VAR":
                toks.append(Tok("VAR", m.group(1), i))
            elif kind == "LANGTAG":
                toks.append(Tok("LANGTAG", m.group(1), i))
            elif kind == "PNAME":
                toks.append(
                    Tok("PNAME", (m.group(1) or "") + ":" + unescape_local(m.group(2) or ""), i)
                )
            elif kind == "KEYWORD":
                toks.append(Tok("KEYWORD", m.group(0), i))
            elif kind == "NUMBER":
                toks.append(Tok("NUMBER", m.group(0), i))
            elif kind == "OP":
                toks.append(Tok("OP", m.group(0), i))
            i = m.end()
            break
        else:
            raise SyntaxError(f"cannot tokenize at offset {i}: {text[i:i+30]!r}")
    toks.append(Tok("EOF", "", n))
    return toks
