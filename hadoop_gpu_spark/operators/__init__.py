"""Relational operator surface (SURVEY.md §2).

Each module re-expresses a family of reference operators as idiomatic
DataFrame transformations. Catalyst owns the physical strategy; these
wrappers add the reference semantics (override-join, field selection,
per-group top-k, the Streaming and Pipes subprocess exchanges, ...) and
scale hints (broadcast, salting). Where a reference operator is a Spark
built-in (``orderBy`` for total-order sort, ``rlike`` for RegexFilter,
``df.observe`` for counters), no wrapper is kept.
"""
