"""Scalar/column function library (``geo``, ``time``, ``stats``,
``text``, ``vector``, ``hashing``, ``exprs``).

The rule (SURVEY.md §4.3): native Column ops first, so the expression
stays inside whole-stage codegen, WKB encoding included
(``geo.point_wkb``); an Arrow-batched ``pandas_udf`` (``*_kernel``) only
where the JVM expression language cannot state the computation, as for
the polynomial shingle, MinHash and SimHash signatures.

Import each name from the module that defines it.
"""
