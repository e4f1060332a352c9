"""The declared queries, one module per query family.

Each family module holds its query builders (``q_<name>(spark, sf) ->
DataFrame``) and an ``oracles()`` dict of the DuckDB SQL that recomputes
them; ``__spark_entry__`` assembles both in driver order.  Helpers two or
more families share live in ``_common``.
"""
