"""Operators that Spark's DataFrame API does not already provide.

The reference replaces each physical operator with a Columnar*Exec
(SURVEY.md §2). Here most of those are one DataFrame call that
Catalyst plans — ``join`` with a strategy hint, ``groupBy``/
``rollup``/``cube``/``groupingSets``, ``union``/``intersect``/
``subtract``, ``orderBy().limit()``, ``repartition`` — and builders
call them directly. The modules below hold only what hides an
algorithm or a rule: null-aware anti and existence joins, the skew
join rule and salting, the hot-bucket guard, as-of and range joins,
connected components, and the image decoders.
``errors.UnsupportedOperationError`` is the typed refusal (raised by
``sources.io``) that names the vanilla-Spark escape hatch instead of
returning a silent wrong answer.
"""
