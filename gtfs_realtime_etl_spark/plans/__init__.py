"""Query plans: the driver-facing registry of implemented operators
(``plans.queries``: ``QUERIES``, ``ORACLE_SQL``, ``flagship``)."""
