"""Column names as Spark SQL text — the one place a name is quoted.

Generated expression text is parsed JVM-side in one py4j round trip
(``F.expr``/``selectExpr``), so every name that goes into it needs a
text form. There are two kinds of name, and one renderer for each:

- :func:`ident` — a TOP-LEVEL name taken literally as one identifier:
  output aliases, temp columns, schema fields. ``"a.b"`` is the column
  named ``a.b``.
- :func:`ref` — a user column REFERENCE, read with ``F.col``'s rules
  (Spark's ``UnresolvedAttribute.parseAttributeName``): an unquoted dot
  starts a struct path and a backtick-quoted part is taken literally,
  with a doubled backtick standing for one. ``"st.x"`` is field ``x``
  of struct ``st``; ``"`v.x`"`` is the top-level column ``v.x``.

For a plain name (no dot, no backtick) both render the same text.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def ref(name: str) -> str:
    """SQL text of ``F.col(name)``: each name part as an :func:`ident`,
    joined by dots."""
    return ".".join(ident(p) for p in _name_parts(name))


def _name_parts(name: str) -> list[str]:
    """``parseAttributeName``: the name parts of a column reference.
    Raises ``ValueError`` where Spark raises a syntax error (an empty
    part, text after a closing backtick, an unclosed backtick)."""
    malformed = ValueError(f"malformed column reference: {name!r}")
    parts: list[str] = []
    part: list[str] = []
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                part.append(ch)
            elif name[i + 1:i + 2] == "`":  # doubled: one literal backtick
                part.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1:i + 2] not in ("", "."):
                    raise malformed
        elif ch == "`":
            if part:
                raise malformed
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise malformed
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
        i += 1
    if quoted:
        raise malformed
    parts.append("".join(part))
    return parts
