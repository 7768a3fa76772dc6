from .registry import Project, ModelContext, ModelSpec

__all__ = ["Project", "ModelContext", "ModelSpec"]
