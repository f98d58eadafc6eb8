"""DataFrame-level operators: the reference's imperative loops re-expressed
as Catalyst-optimizable plans (windows, aggs, interval joins) plus
pandas-UDF kernels where relational form genuinely can't express the
semantics."""


def materialize(df, mode):
    """Reuse for a frame consumed by several downstream branches.

    ``"checkpoint"`` = lazy localCheckpoint: caches the internal rows and
    truncates lineage, with no columnar re-encode; recovery on executor
    loss is a job retry (the engine's jobs are idempotent and externally
    checkpointed, plans/checkpoint.py). ``"persist"`` = MEMORY_AND_DISK
    columnar cache (recomputable lineage). Anything else (``"none"``,
    ``None``) = no reuse: each consumer recomputes the lineage."""
    if mode == "checkpoint":
        return df.localCheckpoint(eager=False)
    if mode == "persist":
        from pyspark import StorageLevel
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df
