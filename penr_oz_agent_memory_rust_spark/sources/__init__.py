__all__ = ["tables", "embedding_providers", "ann_sink", "ann_push", "bucketed", "python_datasource"]
