"""Query families of the driver registry, one module per family.

Each module registers its queries with ``benchqueries.register`` (or
``_register_nl``) when it is imported; ``benchqueries`` imports them all.
A query's family is the module it is registered in. ``_shared`` holds
the SQL fragments and session artifacts more than one family uses and
registers nothing.
"""
