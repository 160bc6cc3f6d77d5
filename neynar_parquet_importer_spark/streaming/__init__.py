from .pipeline import ImportPipeline

__all__ = ["ImportPipeline"]
