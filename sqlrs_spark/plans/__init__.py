from sqlrs_spark.plans.checks import exchange_keys, explain_str, node_names, plan_nodes, seq

__all__ = ["exchange_keys", "explain_str", "node_names", "plan_nodes", "seq"]
