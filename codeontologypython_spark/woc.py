"""CodeOntology vocabulary constants (the public `woc:` OWL vocabulary).

The reference serializes triples under base IRI ``http://rdf.webofcode.org/woc/``
(reference ``codeontology/ontology/__init__.py:17-19``); the schema is the
bundled OWL file ``codeontology.owl``. This module is the Spark engine's
equivalent of the owlready2-loaded ontology: a plain constants module
(SURVEY.md §1.3). Class/property names below are the subset the reference's
extractor actually emits (verified against ``extract/individuals.py`` /
``extract/extractor.py`` usage) plus RDF/OWL standard terms.
"""

from __future__ import annotations

WOC = "http://rdf.webofcode.org/woc/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

RDF_TYPE = RDF + "type"
OWL_SAME_AS = OWL + "sameAs"  # equivalent-statement groups (individuals.py:244-272)

# --- OWL classes the reference instantiates (individuals.py:90-766) ----------
CLASSES = [
    # structural
    "Project", "Library", "Package",
    # types
    "Class", "ParameterizedType", "TypeArgument",
    # executables
    "Constructor", "Function", "Method",
    # variables
    "Field", "GlobalVariable", "LocalVariable", "Parameter",
    # modifiers
    "AccessModifier",
    # statements (init_* factories, individuals.py:238-513)
    "Statement", "BlockStatement", "AssertStatement", "BreakStatement",
    "ContinueStatement", "ReturnStatement", "BranchingStatement",
    "IfThenElseStatement", "LoopStatement", "ForEachStatement",
    "WhileStatement", "DeclarationStatement", "FieldDeclarationStatement",
    "GlobalVariableDeclarationStatement", "LocalVariableDeclarationStatement",
    "CatchStatement", "FinallyStatement", "TryStatement",
    "ExpressionStatement", "ImportStatement", "ThrowStatement",
    # left values (extract_left_values, extractor.py:1034-1076)
    "LeftValue",
    # expressions (individuals.py:151-197)
    "Expression", "AssignmentExpression", "ExecutableInvocationExpression",
    "ClassInstanceCreationExpression", "FunctionInvocationExpression",
    "MethodInvocationExpression", "LambdaExpression",
]

# woc:<Class> IRI per class name
CLS = {name: WOC + name for name in CLASSES}

# --- object properties (emitted set; extractor.py/individuals.py usage) ------
OBJECT_PROPERTIES = [
    "hasProject", "isProjectOf", "hasLibrary", "isLibraryOf", "hasPackage",
    "isPackageOf", "hasDependency", "isDependencyOf",
    "imports", "isImportedBy",
    "extends", "hasSubClass",
    "declares", "isDeclaredBy",
    "hasMethod", "isMethodOf", "hasConstructor", "isConstructorOf",
    "hasField", "isFieldOf", "hasParameter", "isParameterOf",
    "hasType", "isTypeOf", "hasReturnType", "isReturnTypeOf",
    "hasGenericType", "hasActualTypeArgument", "isActualTypeArgumentOf",
    "hasArgumentType", "isArgumentTypeOf",
    "overrides", "isOverriddenBy",
    "hasModifier", "isModifierOf",
    "hasBody", "isBodyOf",
    "hasNextStatement", "hasPreviousStatement",
    "hasCondition", "isConditionOf", "hasThenBranch", "isThenBranchOf",
    "hasElseBranch", "isElseBranchOf",
    "hasIterable", "isIterableOf", "hasForEachVariable", "isForEachVariableOf",
    "hasCatchClause", "isCatchClauseOf", "hasFinallyClause", "isFinallyClauseOf",
    "hasCatchFormalParameter",
    "hasAssertExpression", "isAssertExpressionOf",
    "hasThrownExpression", "isThrownExpressionOf",
    "hasReturnedExpression", "isReturnedExpressionOf",
    "hasReturnStatement", "isReturnStatementOf",
    "hasSubExpression", "isSubExpressionOf",
    "hasLeftHandSide", "isLeftHandSideOf",
    "hasRightHandSide", "isRightHandSideOf",
    "hasLeftValue", "isLeftValueOf",
    "hasVariableDeclaration", "hasTargetedBlock", "hasDeclaration",
    "hasBlockStatement", "isBlockStatementOf",
    # declared in the OWL but deliberately NEVER emitted by the reference
    # (extract_call is a no-op, extractor.py:531-532; future work README.md:119).
    # Kept for the opt-in call-linking flag; parity runs must not emit it.
    "invokes",
]

PROP = {name: WOC + name for name in OBJECT_PROPERTIES}

# --- datatype properties -----------------------------------------------------
DATATYPE_PROPERTIES = [
    "hasName", "hasSimpleName", "hasFullyQualifiedName", "hasSourceCode",
    "hasLine", "hasEndLine", "hasStatementPosition", "hasDocumentation",
    "hasParameterPosition", "hasLeftValuePosition", "hasTypeArgumentPosition",
    "isVarArgs", "isPositionalOnly", "isKeywordOnly",
]
DPROP = {name: WOC + name for name in DATATYPE_PROPERTIES}

INT_DPROPS = {
    DPROP[n]
    for n in (
        "hasLine", "hasEndLine", "hasStatementPosition",
        "hasParameterPosition", "hasLeftValuePosition",
        "hasTypeArgumentPosition",
    )
}
BOOL_DPROPS = {DPROP[n] for n in ("isVarArgs", "isPositionalOnly", "isKeywordOnly")}

# --- inverse map -------------------------------------------------------------
# Pairs with owl:inverseOf declared in codeontology.owl; owlready2
# auto-materializes the inverse when the forward property is set
# (reference extractor.py:35-38). The Spark engine emits only forward triples
# in Stage 1 and materializes inverses relationally in Stage 3 (SURVEY §2.4 C4).
_INVERSE_PAIRS = [
    ("declares", "isDeclaredBy"), ("extends", "hasSubClass"),
    ("hasActualTypeArgument", "isActualTypeArgumentOf"),
    ("hasArgumentType", "isArgumentTypeOf"),
    ("hasAssertExpression", "isAssertExpressionOf"),
    ("hasBlockStatement", "isBlockStatementOf"),
    ("hasBody", "isBodyOf"), ("hasCatchClause", "isCatchClauseOf"),
    ("hasCondition", "isConditionOf"), ("hasConstructor", "isConstructorOf"),
    ("hasDependency", "isDependencyOf"), ("hasElseBranch", "isElseBranchOf"),
    ("hasField", "isFieldOf"), ("hasFinallyClause", "isFinallyClauseOf"),
    ("hasForEachVariable", "isForEachVariableOf"),
    ("hasIterable", "isIterableOf"),
    ("hasLeftHandSide", "isLeftHandSideOf"), ("hasLeftValue", "isLeftValueOf"),
    ("hasLibrary", "isLibraryOf"), ("hasMethod", "isMethodOf"),
    ("hasModifier", "isModifierOf"),
    ("hasNextStatement", "hasPreviousStatement"),
    ("hasPackage", "isPackageOf"), ("hasParameter", "isParameterOf"),
    ("hasProject", "isProjectOf"),
    ("hasReturnStatement", "isReturnStatementOf"),
    ("hasReturnType", "isReturnTypeOf"),
    ("hasReturnedExpression", "isReturnedExpressionOf"),
    ("hasRightHandSide", "isRightHandSideOf"),
    ("hasSubExpression", "isSubExpressionOf"),
    ("hasThenBranch", "isThenBranchOf"),
    ("hasThrownExpression", "isThrownExpressionOf"),
    ("hasType", "isTypeOf"), ("imports", "isImportedBy"),
    ("overrides", "isOverriddenBy"),
]

# forward IRI -> inverse IRI (both directions so either emitted form works)
INVERSE: dict[str, str] = {}
for _f, _i in _INVERSE_PAIRS:
    INVERSE[WOC + _f] = WOC + _i
    INVERSE[WOC + _i] = WOC + _f

# --- singleton, name-addressed individuals (individuals.py:45-52) ------------
PUBLIC_ACCESS_MODIFIER = WOC + "PythonPublicAccessModifier"
PROTECTED_ACCESS_MODIFIER = WOC + "PythonProtectedAccessModifier"
PRIVATE_ACCESS_MODIFIER = WOC + "PythonPrivateAccessModifier"
