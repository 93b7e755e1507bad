from cassandra_data_migrator_spark.plans.inspect import (  # noqa: F401
    count_exchanges,
    explain_str,
    has_window_group_limit,
    own_plan,
    pushed_filters,
    python_eval_nodes,
    whole_stage_codegen_spans,
)
